package graft
package registry

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.api.{ClientApi, KnowledgeGraph}
import graft.functions.ChemFns
import graft.operators.Artifact
import graft.ops.RelOps

import Support._

/** Knowledge graph: the ClientApi / KnowledgeGraph calls, the
  * DataSourceV2 entity endpoint and the GraphQL dialect.
  */
private[graft] object KgQueries {

  /** KG whose association edges read the per-corpus persisted index
    * (the reference server's own shape: scores are precomputed by an
    * ETL, the API scans them) — shared by every KG query.
    */
  private def kgIndexed(s: SparkSession, dir: String): KnowledgeGraph =
    KnowledgeGraph(s, dir,
      fixturePath("kgidx", dir, "lineitem", "orders", "customer"))

  def all: Seq[Query] = Seq(
    // ---------------- S2 entity-filtered union search ----------------
    // the reference's search(queryString, entityNames=[...]) over the
    // union type Target|Drug|Disease: tag column + per-entity arms
    Query("q47_entity_search", (s, dir) => {
      val tt = t(s, dir)
      val entities = tt.part
        .select(lit("part").as("entity"), col("p_partkey").as("id"), col("p_name").as("name"))
        .unionByName(tt.supplier
          .select(lit("supplier").as("entity"), col("s_suppkey").as("id"), col("s_name").as("name")))
        .unionByName(tt.customer
          .select(lit("customer").as("entity"), col("c_custkey").as("id"), col("c_name").as("name")))
      RelOps.search(entities, col("name"), "1")
        .filter(col("entity").isin("supplier", "customer"))
        .orderBy("entity", "id")
    }, oracle =
      """SELECT entity, id, name FROM (
           SELECT 'part' AS entity, p_partkey AS id, p_name AS name FROM part
           UNION ALL
           SELECT 'supplier', s_suppkey, s_name FROM supplier
           UNION ALL
           SELECT 'customer', c_custkey, c_name FROM customer)
         WHERE lower(name) LIKE '%1%' AND entity IN ('supplier','customer')
         ORDER BY entity, id"""),

    // ---------------- KG client-api: disease → targets (J1+P3+SO5) ----------------
    Query("q49_kg_disease_targets", (s, dir) => {
      val kg = kgIndexed(s, dir)
      ClientApi.getDiseaseTargets(kg,
        ClientApi.getDiseaseIds(kg, "BUILDING"), minScore = 0.33)
        .orderBy("id")
    }, oracle =
      """WITH pair AS (
           SELECT c_mktsegment AS m, l_partkey AS p, sum(l_quantity) AS q
           FROM lineitem
           JOIN orders ON o_orderkey = l_orderkey
           JOIN customer ON c_custkey = o_custkey
           GROUP BY 1, 2),
         edges AS (
           SELECT 'DIS_' || m AS disease_id, 'TGT_' || p AS target_id,
             round(q / sum(q) OVER (PARTITION BY p), 6) AS score
           FROM pair),
         kept AS (
           SELECT *, row_number() OVER
             (PARTITION BY target_id ORDER BY score DESC, disease_id) AS rn
           FROM edges WHERE disease_id = 'DIS_BUILDING' AND score >= 0.33)
         SELECT target_id AS id, score, disease_id FROM kept WHERE rn = 1
         ORDER BY id"""),

    // ---------------- S5→F4→P10→F5: the ChEMBL enrichment chain ----------------
    // Mirrors the reference's chembl_to_smile.py:21-48 +
    // chembl_to_molecule_type.py:16-26: lookup-table left join (S5) →
    // JSON navigation to molecule_structures.canonical_smiles (F4) →
    // name coalesce fallback (P10) → SMILES canonicalization UDF +
    // is-canonical check (F5). The molecule fixture is derived
    // deterministically from `part`, with deliberate gaps (30% of keys
    // absent, a third of names null) so the left-join/coalesce paths
    // are really exercised; the SMILES literals were chosen so the
    // UDF's canonical form is hand-computable in the DuckDB twin.
    Query("q55_chembl_enrichment", (s, dir) => {
      val base = t(s, dir).part.filter(col("p_partkey") <= 300)
      val smilesLit = element_at(
        array(lit("C2CC2"), lit("C1CC1"), lit("c1ccccc1"),
          lit("C3CC3C1CC1"), lit("CC(=O)O")),
        (col("p_partkey") % 5 + 1).cast("int"))
      val molecules = base.filter(col("p_partkey") % 10 < 7)
        .select(col("p_partkey").as("mol_key"),
          when(col("p_partkey") % 3 =!= 0, concat(lit("MOL "), col("p_name"))).as("mol_name"),
          concat(lit("{\"molecule_structures\":{\"canonical_smiles\":\""),
            smilesLit, lit("\"}}")).as("mol_json"))
      base.select(col("p_partkey"))
        .join(molecules, col("p_partkey") === col("mol_key"), "left")
        .withColumn("smiles",
          get_json_object(col("mol_json"), "$.molecule_structures.canonical_smiles"))
        .select(col("p_partkey"),
          coalesce(col("mol_name"), lit("UNKNOWN")).as("name"),
          col("smiles"),
          ChemFns.canonicalSmiles(col("smiles")).as("canonical_smiles"),
          coalesce(ChemFns.isCanonical(col("smiles")), lit(false)).as("is_canonical"))
        .orderBy("p_partkey")
    }, oracle =
      """WITH base AS (SELECT p_partkey, p_name FROM part WHERE p_partkey <= 300),
         mol AS (
           SELECT p_partkey AS mol_key,
             CASE WHEN p_partkey % 3 <> 0 THEN 'MOL ' || p_name END AS mol_name,
             '{"molecule_structures":{"canonical_smiles":"' ||
               CASE CAST(p_partkey % 5 AS INT)
                 WHEN 0 THEN 'C2CC2' WHEN 1 THEN 'C1CC1' WHEN 2 THEN 'c1ccccc1'
                 WHEN 3 THEN 'C3CC3C1CC1' ELSE 'CC(=O)O' END || '"}}' AS mol_json
           FROM base WHERE p_partkey % 10 < 7),
         enriched AS (
           SELECT b.p_partkey, coalesce(mol_name, 'UNKNOWN') AS name,
             json_extract_string(mol_json,
               '$.molecule_structures.canonical_smiles') AS smiles
           FROM base b LEFT JOIN mol ON mol_key = b.p_partkey),
         canon AS (
           SELECT *,
             CASE WHEN smiles = 'C2CC2' THEN 'C1CC1'
                  WHEN smiles = 'C1CC1' THEN 'C1CC1'
                  WHEN smiles = 'c1ccccc1' THEN 'c1ccccc1'
                  WHEN smiles = 'C3CC3C1CC1' THEN 'C1CC1C2CC2'
                  WHEN smiles = 'CC(=O)O' THEN 'CC(=O)O' END AS canonical_smiles
           FROM enriched)
         SELECT p_partkey, name, smiles, canonical_smiles,
           coalesce(canonical_smiles = smiles, false) AS is_canonical
         FROM canon ORDER BY p_partkey"""),

    // ---------------- J7 two-level nested expand ----------------
    // Mirrors the reference's opentargets_query_targets_for_drug.py
    // :37-40 (drug → mechanismsOfAction.rows[] → targets[]): build
    // the real array<struct<action_type, array<target>>> column with
    // collect_set/collect_list, then navigate it back down with a
    // DOUBLE explode. The oracle is the flat distinct-triple query the
    // round-trip must reproduce.
    Query("q56_mechanism_targets", (s, dir) => {
      val tt = t(s, dir)
      val facts = tt.lineitem.select(col("l_suppkey"), col("l_partkey"))
        .join(tt.part.select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
      val perMech = facts.groupBy(col("l_suppkey"), col("p_brand"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("targets"))
      val nested = perMech.groupBy(col("l_suppkey"))
        .agg(sort_array(collect_list(
          struct(col("p_brand").as("action_type"), col("targets")))).as("mechanisms"))
      nested
        .select(col("l_suppkey").as("drug_key"), explode(col("mechanisms")).as("m"))
        .select(col("drug_key"), col("m.action_type").as("action_type"),
          explode(col("m.targets")).as("target_key"))
        .orderBy("drug_key", "action_type", "target_key")
    }, oracle =
      """SELECT DISTINCT l_suppkey AS drug_key, p_brand AS action_type,
           l_partkey AS target_key
         FROM lineitem JOIN part ON p_partkey = l_partkey
         ORDER BY drug_key, action_type, target_key"""),

    // ---------------- KG client-api: target → diseases (J2+P5) ----------------
    // getTargetDiseases over the q49 target set, excluding the main
    // disease (opentargets_client_api.py:158-186).
    Query("q58_kg_target_diseases", (s, dir) => {
      val kg = kgIndexed(s, dir)
      val mains = ClientApi.getDiseaseIds(kg, "BUILDING")
      val targets = ClientApi.getDiseaseTargets(kg, mains, minScore = 0.33).select("id")
      ClientApi.getTargetDiseases(kg, targets, minScore = 0.1, excludeDiseaseIds = mains)
        .orderBy("id")
    }, oracle =
      """WITH pair AS (
           SELECT c_mktsegment AS m, l_partkey AS p, sum(l_quantity) AS q
           FROM lineitem
           JOIN orders ON o_orderkey = l_orderkey
           JOIN customer ON c_custkey = o_custkey
           GROUP BY 1, 2),
         edges AS (
           SELECT 'DIS_' || m AS disease_id, 'TGT_' || p AS target_id,
             round(q / sum(q) OVER (PARTITION BY p), 6) AS score
           FROM pair),
         main_targets AS (
           SELECT target_id FROM (
             SELECT *, row_number() OVER
               (PARTITION BY target_id ORDER BY score DESC, disease_id) AS rn
             FROM edges WHERE disease_id = 'DIS_BUILDING' AND score >= 0.33)
           WHERE rn = 1),
         expanded AS (
           SELECT e.target_id, e.disease_id, e.score FROM edges e
           WHERE e.target_id IN (SELECT target_id FROM main_targets)
             AND e.score >= 0.1 AND e.disease_id <> 'DIS_BUILDING'),
         kept AS (
           SELECT *, row_number() OVER
             (PARTITION BY disease_id ORDER BY score DESC, target_id) AS rn
           FROM expanded)
         SELECT disease_id AS id, score, target_id FROM kept WHERE rn = 1
         ORDER BY id"""),

    // ---------------- KG client-api: disease → drugs (J3) ----------------
    Query("q59_kg_disease_drugs", (s, dir) => {
      val kg = kgIndexed(s, dir)
      ClientApi.getDiseaseDrugs(kg, ClientApi.getDiseaseIds(kg, "AUTOMOBILE"))
        .orderBy("id")
    }, oracle =
      """WITH facts AS (
           SELECT l_partkey, l_suppkey, c_mktsegment FROM lineitem
           JOIN orders ON o_orderkey = l_orderkey
           JOIN customer ON c_custkey = o_custkey),
         kd AS (
           SELECT 'DIS_' || c_mktsegment AS disease_id,
             'TGT_' || l_partkey AS target_id,
             'DRG_' || l_suppkey AS drug_id,
             round(least(4.0, count(*) / 10.0), 1) AS phase
           FROM facts GROUP BY 1, 2, 3),
         kept AS (
           SELECT *, row_number() OVER
             (PARTITION BY drug_id ORDER BY phase DESC, disease_id, target_id) AS rn
           FROM kd WHERE disease_id = 'DIS_AUTOMOBILE')
         SELECT drug_id AS id, phase, disease_id FROM kept WHERE rn = 1
         ORDER BY id"""),

    // ---------------- KG client-api: drug info + linked-target list (A3) ----------------
    Query("q60_kg_drug_info", (s, dir) => {
      val kg = kgIndexed(s, dir)
      ClientApi.getDrugInfo(kg, kg.drugs.select("id"))
        .select(col("id"), col("name"),
          array_join(col("linked_targets"), ",").as("linked_targets"))
        .orderBy("id")
    }, oracle =
      """WITH lt AS (
           SELECT DISTINCT 'DRG_' || l_suppkey AS drug_id,
             'TGT_' || l_partkey AS target_id
           FROM lineitem),
         agg AS (
           SELECT drug_id,
             string_agg(target_id, ',' ORDER BY target_id) AS linked_targets
           FROM lt GROUP BY drug_id)
         SELECT a.drug_id AS id, s_name AS name, linked_targets
         FROM agg a LEFT JOIN supplier ON 'DRG_' || s_suppkey = a.drug_id
         ORDER BY id"""),

    // ---------------- KG client-api: drug → first linked target (O3) ----------------
    Query("q61_kg_drug_first_target", (s, dir) => {
      val kg = kgIndexed(s, dir)
      ClientApi.getDrugFirstTarget(kg, kg.drugs.select("id")).orderBy("id")
    }, oracle =
      """WITH pp AS (
           SELECT l_suppkey, l_partkey, sum(l_quantity) AS q
           FROM lineitem GROUP BY 1, 2),
         rk AS (
           SELECT *, row_number() OVER
             (PARTITION BY l_suppkey ORDER BY q DESC, l_partkey) AS rnk
           FROM pp)
         SELECT 'DRG_' || l_suppkey AS id, 'TGT_' || l_partkey AS target_id
         FROM rk WHERE rnk = 1 ORDER BY id"""),

    // ---------------- KG client-api: drug → all targets (J4+SO5) ----------------
    Query("q62_kg_drug_targets", (s, dir) => {
      val kg = kgIndexed(s, dir)
      ClientApi.getDrugTargets(kg, kg.drugs.select("id")).orderBy("id")
    }, oracle =
      """WITH pp AS (
           SELECT l_suppkey, l_partkey, sum(l_quantity) AS q
           FROM lineitem GROUP BY 1, 2),
         rk AS (
           SELECT *, row_number() OVER
             (PARTITION BY l_suppkey ORDER BY q DESC, l_partkey) AS rnk
           FROM pp),
         kept AS (
           SELECT *, row_number() OVER
             (PARTITION BY l_partkey ORDER BY rnk, 'DRG_' || l_suppkey) AS rn2
           FROM rk)
         SELECT 'TGT_' || l_partkey AS id, 'DRG_' || l_suppkey AS drug_id
         FROM kept WHERE rn2 = 1 ORDER BY id"""),

    // ---------------- S5 live-source analogue: DataSourceV2 endpoint scan ----------------
    // The reference's defining op — a remote paginated entity lookup
    // (query_opentargets.py) — through the real DataSourceV2
    // connector: the part catalog is staged as the endpoint's JSONL
    // shards, then queried with a server-side search filter and field
    // selection (both pushed into the page requests; see
    // EntityEndpointSpec for the plan assertions). Oracle is the same
    // search over the parquet table.
    Query("q64_endpoint_search", (s, dir) => {
      val ep = fixturePath("endpoint", dir, "part")
      Artifact.ensure(ep) { tmp =>
        t(s, dir).part.select(col("p_partkey"), col("p_name"), col("p_brand"))
          .coalesce(2).write.json(tmp)
      }
      s.read.format("entity-endpoint")
        .option("path", ep)
        .option("schema", "p_partkey BIGINT, p_name STRING, p_brand STRING")
        .option("pageSize", "250")
        .load()
        .filter(col("p_name").contains("red"))
        .select(col("p_partkey"), col("p_name"), col("p_brand"))
        .orderBy("p_partkey")
    }, oracle =
      """SELECT p_partkey, p_name, p_brand FROM part
         WHERE contains(p_name, 'red') ORDER BY p_partkey"""),

    // ---------------- KG client-api: target → pathways (J6) ----------------
    Query("q63_kg_target_pathways", (s, dir) => {
      val kg = kgIndexed(s, dir)
      val targets = ClientApi.getDiseaseTargets(kg,
        ClientApi.getDiseaseIds(kg, "BUILDING"), minScore = 0.33).select("id")
      ClientApi.getTargetPathways(kg, targets).orderBy("pathwayId")
    }, oracle =
      """WITH pair AS (
           SELECT c_mktsegment AS m, l_partkey AS p, sum(l_quantity) AS q
           FROM lineitem
           JOIN orders ON o_orderkey = l_orderkey
           JOIN customer ON c_custkey = o_custkey
           GROUP BY 1, 2),
         edges AS (
           SELECT 'DIS_' || m AS disease_id, 'TGT_' || p AS target_id,
             round(q / sum(q) OVER (PARTITION BY p), 6) AS score
           FROM pair),
         main_targets AS (
           SELECT target_id FROM (
             SELECT *, row_number() OVER
               (PARTITION BY target_id ORDER BY score DESC, disease_id) AS rn
             FROM edges WHERE disease_id = 'DIS_BUILDING' AND score >= 0.33)
           WHERE rn = 1),
         pw AS (
           SELECT 'TGT_' || p_partkey AS target_id,
             'PWY_' || p_brand AS "pathwayId",
             p_brand AS pathway, p_type AS "topLevelTerm"
           FROM part),
         kept AS (
           SELECT *, row_number() OVER
             (PARTITION BY "pathwayId" ORDER BY target_id) AS rn
           FROM pw WHERE target_id IN (SELECT target_id FROM main_targets))
         SELECT "pathwayId", pathway, "topLevelTerm", target_id
         FROM kept WHERE rn = 1 ORDER BY "pathwayId""""),

    // ---------------- GraphQL-dialect frontend ----------------
    // The reference's query language, executed end-to-end: query TEXT
    // in (the candidate_drugs.py diseaseAssociatedDrugs template,
    // verbatim shape), nested data object out, flattened here for the
    // hash compare. The oracle reconstructs the same nested fold in
    // SQL over the raw star schema — parser, resolver, ordering and
    // aggregation all under the hash.
    Query("q152_graphql_known_drugs", (s, dir) => {
      val res = graft.api.GraphQl.execute(kgIndexed(s, dir),
        """query diseaseAssociatedDrugs {
             disease(efoId: "DIS_BUILDING") {
               id
               name
               knownDrugs {
                 count
                 rows {
                   phase
                   drug { id name }
                 }
               }
             }
           }""")
      res.select(col("id").as("disease_id"), col("name").as("disease_name"),
          col("knownDrugs.count").as("n_rows"),
          posexplode(col("knownDrugs.rows")).as(Seq("rn", "r")))
        .select(col("disease_id"), col("disease_name"), col("n_rows"),
          (col("rn") + 1).cast("long").as("rn"),
          col("r.phase").as("phase"),
          col("r.drug.id").as("drug_id"), col("r.drug.name").as("drug_name"))
        .orderBy("rn")
    }, oracle = SqlKnownDrugsFold),

    // the query_opentargets.py example query, id constants aside
    Query("q153_graphql_pathways", (s, dir) =>
      graft.api.GraphQl.execute(kgIndexed(s, dir),
        """{
             target(ensemblId: "TGT_1") {
               id
               approvedSymbol
               pathways {
                 pathway { id name }
               }
             }
           }""")
        .select(col("id"), col("approvedSymbol"),
          posexplode(col("pathways")).as(Seq("rn", "r")))
        .select(col("id"), col("approvedSymbol"),
          (col("rn") + 1).cast("long").as("rn"),
          col("r.pathway.id").as("pathway_id"),
          col("r.pathway.name").as("pathway_name"))
        .orderBy("rn"), oracle =
      """SELECT 'TGT_' || p_partkey AS id, p_name AS approvedSymbol,
           CAST(1 AS BIGINT) AS rn,
           'PWY_' || p_brand AS pathway_id, p_brand AS pathway_name
         FROM part WHERE p_partkey = 1"""),

    // the x2.py drug→targets direction: ordered rows, rank exposed
    Query("q154_graphql_linked_targets", (s, dir) =>
      graft.api.GraphQl.execute(kgIndexed(s, dir),
        """{
             drug(chemblId: "DRG_1") {
               id
               name
               linkedTargets {
                 count
                 rows {
                   rank
                   target { id approvedSymbol }
                 }
               }
             }
           }""")
        .select(col("id").as("drug_id"), col("name").as("drug_name"),
          col("linkedTargets.count").as("n_rows"),
          posexplode(col("linkedTargets.rows")).as(Seq("rn", "r")))
        .select(col("drug_id"), col("drug_name"), col("n_rows"),
          col("r.rank").cast("long").as("rank"),
          col("r.target.id").as("target_id"),
          col("r.target.approvedSymbol").as("target_name"))
        .orderBy("rank"), oracle =
      """WITH lt AS (
           SELECT l_partkey AS pk, sum(l_quantity) AS q
           FROM lineitem WHERE l_suppkey = 1 GROUP BY 1),
         r AS (
           SELECT row_number() OVER (ORDER BY q DESC, pk) AS rank, pk
           FROM lt)
         SELECT 'DRG_1' AS drug_id, s.s_name AS drug_name,
           (SELECT count(*) FROM lt) AS n_rows,
           r.rank, 'TGT_' || r.pk AS target_id, p.p_name AS target_name
         FROM r
         JOIN part p ON p.p_partkey = r.pk
         JOIN supplier s ON s.s_suppkey = 1
         ORDER BY rank"""),

    // the prompt_for_disease_targets template: score-descending rows
    Query("q155_graphql_assoc_targets", (s, dir) =>
      graft.api.GraphQl.execute(kgIndexed(s, dir),
        """{
             disease(efoId: "DIS_MACHINERY") {
               associatedTargets {
                 rows {
                   target { id approvedSymbol }
                   score
                 }
               }
             }
           }""")
        .select(posexplode(col("associatedTargets.rows")).as(Seq("rn", "r")))
        .select((col("rn") + 1).cast("long").as("rn"),
          col("r.target.id").as("target_id"),
          col("r.target.approvedSymbol").as("target_name"),
          col("r.score").as("score"))
        .orderBy("rn"), oracle =
      // score-descending rows with the executor's (−score, target_id)
      // tie-break; score is the q58-q63 convention (segment share of
      // the part's volume, round 6); unpaginated ⇒ default first page
      """WITH pair AS (
           SELECT c_mktsegment AS m, l_partkey AS p, sum(l_quantity) AS q
           FROM lineitem
           JOIN orders ON o_orderkey = l_orderkey
           JOIN customer ON c_custkey = o_custkey
           GROUP BY 1, 2),
         edges AS (
           SELECT 'DIS_' || m AS disease_id, 'TGT_' || p AS target_id,
             round(q / sum(q) OVER (PARTITION BY p), 6) AS score
           FROM pair),
         mine AS (
           SELECT e.target_id, e.score,
             row_number() OVER (ORDER BY e.score DESC, e.target_id) AS rn
           FROM edges e WHERE e.disease_id = 'DIS_MACHINERY')
         SELECT m.rn, m.target_id, p.p_name AS target_name, m.score
         FROM mine m
         JOIN part p ON 'TGT_' || p.p_partkey = m.target_id
         WHERE m.rn <= 25
         ORDER BY rn"""),

    // the x2.py:77-91 GetAssociatedDiseases template verbatim (id
    // constant aside) — the last reference query template, now under
    // its own oracle: target → associatedDiseases, score-descending
    Query("q178_graphql_assoc_diseases", (s, dir) =>
      graft.api.GraphQl.execute(kgIndexed(s, dir),
        """query GetAssociatedDiseases {
             target(ensemblId: "TGT_1" ) {
               associatedDiseases {
                 rows {
                   disease {
                     id
                     name
                   }
                   score
                 }
               }
             }
           }""")
        .select(posexplode(col("associatedDiseases.rows")).as(Seq("rn", "r")))
        .select((col("rn") + 1).cast("long").as("rn"),
          col("r.disease.id").as("disease_id"),
          col("r.disease.name").as("disease_name"),
          col("r.score").as("score"))
        .orderBy("rn"), oracle =
      // the x2.py:77-91 GetAssociatedDiseases template: the reverse
      // association edge, score-descending with the (−score, disease_id)
      // tie-break; one target touches at most the 5 segments, so the
      // default page covers the whole connection here — the rn <= 25
      // guard mirrors the executor's contract anyway
      """WITH pair AS (
           SELECT c_mktsegment AS m, l_partkey AS p, sum(l_quantity) AS q
           FROM lineitem
           JOIN orders ON o_orderkey = l_orderkey
           JOIN customer ON c_custkey = o_custkey
           GROUP BY 1, 2),
         edges AS (
           SELECT 'TGT_' || p AS target_id, 'DIS_' || m AS disease_id,
             m AS disease_name,
             round(q / sum(q) OVER (PARTITION BY p), 6) AS score
           FROM pair),
         mine AS (
           SELECT disease_id, disease_name, score,
             CAST(row_number() OVER (ORDER BY score DESC, disease_id)
               AS BIGINT) AS rn
           FROM edges WHERE target_id = 'TGT_1')
         SELECT rn, disease_id, disease_name, score
         FROM mine WHERE rn <= 25
         ORDER BY rn"""),

    // the opentargets_query.py search shape: entity-filtered substring
    // search with list-valued entityNames, hits ordered (name, id)
    Query("q157_graphql_search", (s, dir) =>
      graft.api.GraphQl.execute(kgIndexed(s, dir),
        """{
             search(queryString: "red", entityNames: ["target", "drug"]) {
               total
               hits { id name entity }
             }
           }""")
        .select(col("total"), posexplode(col("hits")).as(Seq("rn", "r")))
        .select(col("total"), (col("rn") + 1).cast("long").as("rn"),
          col("r.id").as("id"), col("r.name").as("name"),
          col("r.entity").as("entity"))
        .orderBy("rn"), oracle =
      """WITH hits AS (
           SELECT 'TGT_' || p_partkey AS id, p_name AS name,
             'target' AS entity
           FROM part WHERE lower(p_name) LIKE '%red%'
           UNION ALL
           SELECT 'DRG_' || s_suppkey AS id, s_name AS name,
             'drug' AS entity
           FROM supplier WHERE lower(s_name) LIKE '%red%')
         SELECT (SELECT count(*) FROM hits) AS total,
           row_number() OVER (ORDER BY name, id) AS rn,
           id, name, entity
         FROM hits ORDER BY rn"""),

    // the x2.py prompt_get_drugs_for_target template verbatim (id
    // constant aside): the Drug facet block — synonyms / drugType /
    // isApproved / maximumClinicalTrialPhase, the last DERIVED from
    // the knownDrugs edge rollup like the platform's own ETL
    Query("q158_graphql_drug_facets", (s, dir) =>
      graft.api.GraphQl.execute(kgIndexed(s, dir),
        """{
             target(ensemblId: "TGT_2") {
               knownDrugs {
                 rows {
                   drug {
                     id
                     name
                     synonyms
                     drugType
                     isApproved
                     maximumClinicalTrialPhase
                   }
                 }
               }
             }
           }""")
        .select(posexplode(col("knownDrugs.rows")).as(Seq("rn", "r")))
        .select((col("rn") + 1).cast("long").as("rn"),
          col("r.drug.id").as("drug_id"), col("r.drug.name").as("name"),
          array_join(col("r.drug.synonyms"), "|").as("synonyms"),
          col("r.drug.drugType").as("drug_type"),
          col("r.drug.isApproved").as("is_approved"),
          col("r.drug.maximumClinicalTrialPhase").as("max_phase"))
        .orderBy("rn"), oracle =
      // target.knownDrugs rows for TGT_2 sorted (drug_id, disease_id);
      // max_phase rolls up over ALL the drug's edges, not just TGT_2's
      """WITH allkd AS (
           SELECT 'DIS_' || c_mktsegment AS dis,
             'TGT_' || l_partkey AS tgt,
             'DRG_' || l_suppkey AS drug_id,
             round(least(4.0, count(*) / 10.0), 1) AS phase
           FROM lineitem
           JOIN orders ON o_orderkey = l_orderkey
           JOIN customer ON c_custkey = o_custkey
           GROUP BY 1, 2, 3),
         mp AS (SELECT drug_id, max(phase) AS maxph FROM allkd GROUP BY 1),
         mine AS (
           SELECT dis, drug_id,
             row_number() OVER (ORDER BY drug_id, dis) AS rn
           FROM allkd WHERE tgt = 'TGT_2')
         SELECT m.rn, m.drug_id, s.s_name AS name,
           s.s_name || '|SUP-' || s.s_suppkey AS synonyms,
           lower(n.n_name) AS drug_type,
           s.s_acctbal >= 0 AS is_approved,
           mp.maxph AS max_phase
         FROM mine m
         JOIN supplier s ON 'DRG_' || s.s_suppkey = m.drug_id
         JOIN nation n ON n.n_nationkey = s.s_nationkey
         LEFT JOIN mp ON mp.drug_id = m.drug_id
         WHERE m.rn <= 25
         ORDER BY rn"""),

    // ---------------- GraphQL two-level connection ----------------
    // The opentargets_query_targets_for_drug.py:4-21 query text
    // verbatim (id constant aside): drug → mechanismsOfAction whose
    // rows each carry a LIST of targets — the nested
    // array<struct<targets: array<struct>, mechanismOfAction>>
    // navigated back down with a double posexplode for the oracle.
    Query("q163_graphql_mechanisms", (s, dir) =>
      graft.api.GraphQl.execute(kgIndexed(s, dir),
        """{
             drug(chemblId: "DRG_7") {
               id
               name
               mechanismsOfAction {
                 rows {
                   targets {
                     id
                     approvedSymbol
                   }
                   mechanismOfAction
                 }
               }
             }
           }""")
        .select(col("id").as("drug_id"), col("name").as("drug_name"),
          posexplode(col("mechanismsOfAction.rows")).as(Seq("rn", "r")))
        .select(col("drug_id"), col("drug_name"),
          (col("rn") + 1).cast("long").as("rn"),
          col("r.mechanismOfAction").as("mechanism"),
          posexplode(col("r.targets")).as(Seq("tn", "tgt")))
        .select(col("drug_id"), col("drug_name"), col("rn"),
          (col("tn") + 1).cast("long").as("tn"), col("mechanism"),
          col("tgt.id").as("target_id"),
          col("tgt.approvedSymbol").as("target_name"))
        .orderBy("rn", "tn"), oracle =
      // reconstructs the two-level nested fold flat: mechanism rows are
      // (drug, brand) groups ordered by the brand label, each row's
      // targets the drug's distinct parts of that brand ordered by the
      // TGT_ id STRING (the executor's sort_array order)
      """WITH mech AS (
           SELECT DISTINCT p_brand AS mechanism, l_partkey AS pk
           FROM lineitem JOIN part ON p_partkey = l_partkey
           WHERE l_suppkey = 7),
         x AS (
           SELECT mechanism, pk, 'TGT_' || pk AS target_id,
             CAST(dense_rank() OVER (ORDER BY mechanism) AS BIGINT) AS rn,
             CAST(row_number() OVER (PARTITION BY mechanism
               ORDER BY 'TGT_' || pk) AS BIGINT) AS tn
           FROM mech)
         SELECT 'DRG_7' AS drug_id, s.s_name AS drug_name, x.rn, x.tn,
           x.mechanism, x.target_id, p.p_name AS target_name
         FROM x
         JOIN part p ON p.p_partkey = x.pk
         CROSS JOIN (SELECT s_name FROM supplier WHERE s_suppkey = 7) s
         ORDER BY rn, tn"""),

    // ---------------- GraphQL page: {index, size} ----------------
    // The schema's Pagination input (opentargets.schema:1047-1050) on
    // the q152 connection: page 2 of 10, count stays the TOTAL —
    // the same slice the relational q43 takes with orderBy+offset+limit.
    Query("q164_graphql_page", (s, dir) =>
      graft.api.GraphQl.execute(kgIndexed(s, dir),
        """{
             disease(efoId: "DIS_BUILDING") {
               id
               knownDrugs(page: {index: 1, size: 10}) {
                 count
                 rows {
                   phase
                   drug { id name }
                 }
               }
             }
           }""")
        .select(col("id").as("disease_id"),
          col("knownDrugs.count").as("n_rows"),
          posexplode(col("knownDrugs.rows")).as(Seq("rn", "r")))
        .select(col("disease_id"), col("n_rows"),
          (col("rn") + 1).cast("long").as("rn"),
          col("r.phase").as("phase"), col("r.drug.id").as("drug_id"),
          col("r.drug.name").as("drug_name"))
        .orderBy("rn"), oracle =
      // q152's fold, sliced to rows 11-20 (page index 1, size 10) with
      // the count still the TOTAL
      """WITH kd AS (
           SELECT 'DRG_' || l_suppkey AS drug_id,
             'TGT_' || l_partkey AS tgt_id,
             round(least(4.0, count(*) / 10.0), 1) AS phase
           FROM lineitem
           JOIN orders ON o_orderkey = l_orderkey
           JOIN customer ON c_custkey = o_custkey
           WHERE c_mktsegment = 'BUILDING'
           GROUP BY 1, 2),
         r AS (
           SELECT row_number() OVER (ORDER BY drug_id, tgt_id) AS rn0,
             phase, drug_id
           FROM kd)
         SELECT 'DIS_BUILDING' AS disease_id,
           (SELECT count(*) FROM kd) AS n_rows,
           CAST(r.rn0 - 10 AS BIGINT) AS rn, r.phase, r.drug_id,
           s.s_name AS drug_name
         FROM r JOIN supplier s ON 'DRG_' || s.s_suppkey = r.drug_id
         WHERE r.rn0 BETWEEN 11 AND 20
         ORDER BY rn"""),

    // ---------------- GraphQL batch point-lookup root ----------------
    // targets(ensemblIds: [...]) (opentargets.schema:1125-1148):
    // the id LIST becomes one isin-filtered scan — N point lookups,
    // one pass (the S4 plan; the reference loops one query per id,
    // its own documented missed optimization, SURVEY §4.1). The
    // absent id must simply not appear.
    Query("q165_graphql_batch_targets", (s, dir) =>
      graft.api.GraphQl.execute(kgIndexed(s, dir),
        """{
             targets(ensemblIds: ["TGT_3", "TGT_5", "TGT_8", "TGT_9999999"]) {
               id
               approvedSymbol
             }
           }""")
        .select(posexplode(col("targets")).as(Seq("rn", "r")))
        .select((col("rn") + 1).cast("long").as("rn"),
          col("r.id").as("target_id"),
          col("r.approvedSymbol").as("target_name"))
        .orderBy("rn"), oracle =
      // the batch root returns only the ids that exist, id-string-sorted
      """SELECT CAST(row_number() OVER (ORDER BY 'TGT_' || p_partkey)
             AS BIGINT) AS rn,
           'TGT_' || p_partkey AS target_id, p_name AS target_name
         FROM part WHERE p_partkey IN (3, 5, 8, 9999999)
         ORDER BY rn"""),

    // ---------------- GraphQL fragments + aliases ----------------
    // The dialect headroom a real Open Targets docs user hits: their
    // examples factor row selections into named fragments. q152's
    // diseaseAssociatedDrugs template re-expressed with the rows
    // selection in a fragment (which itself spreads a nested drug
    // fragment) and the connection under a response alias — fragments
    // expand at PARSE time (resolved AST ≡ inlined, GraphQlSpec) and
    // the alias renames only the output column, so the rows carry
    // q152's oracle verbatim.
    Query("q215_graphql_fragments", (s, dir) => {
      val res = graft.api.GraphQl.execute(kgIndexed(s, dir),
        """query diseaseAssociatedDrugs {
             disease(efoId: "DIS_BUILDING") {
               id
               name
               meds: knownDrugs {
                 count
                 rows { ...drugRow }
               }
             }
           }
           fragment drugRow on KnownDrug {
             phase
             ...drugRef
           }
           fragment drugRef on KnownDrug {
             drug { id name }
           }""")
      res.select(col("id").as("disease_id"), col("name").as("disease_name"),
          col("meds.count").as("n_rows"),
          posexplode(col("meds.rows")).as(Seq("rn", "r")))
        .select(col("disease_id"), col("disease_name"), col("n_rows"),
          (col("rn") + 1).cast("long").as("rn"),
          col("r.phase").as("phase"),
          col("r.drug.id").as("drug_id"), col("r.drug.name").as("drug_name"))
        .orderBy("rn")
    }, oracle =
      // fragments expand at parse time and the alias renames only the
      // output column — same resolved AST, same rows, q152's oracle
      SqlKnownDrugsFold),

    // ---------------- GraphQL score-argument pushdown ----------------
    // The pushdown the reference client itself missed: the schema
    // declares scoreThreshold/orderByScore on association connections
    // but candidate_drugs.py:98-109 fetches the full page and filters
    // score >= 0.33 client-side. Here the q155 template carries the
    // threshold INTO the connection fold — the edge relation filters
    // before the rank-limited collect (P3 semantics at the dialect
    // layer) and `count` is the filtered connection total.
    Query("q214_graphql_score_pushdown", (s, dir) =>
      graft.api.GraphQl.execute(kgIndexed(s, dir),
        """{
             disease(efoId: "DIS_MACHINERY") {
               associatedTargets(scoreThreshold: 0.33) {
                 count
                 rows {
                   target { id approvedSymbol }
                   score
                 }
               }
             }
           }""")
        .select(col("associatedTargets.count").as("n_rows"),
          posexplode(col("associatedTargets.rows")).as(Seq("rn", "r")))
        .select(col("n_rows"), (col("rn") + 1).cast("long").as("rn"),
          col("r.target.id").as("target_id"),
          col("r.target.approvedSymbol").as("target_name"),
          col("r.score").as("score"))
        .orderBy("rn"), oracle =
      // the q155 association device + the pushed-down threshold: the
      // filter precedes the rank cut, and count is the filtered total
      """WITH pair AS (
           SELECT c_mktsegment AS m, l_partkey AS p, sum(l_quantity) AS q
           FROM lineitem
           JOIN orders ON o_orderkey = l_orderkey
           JOIN customer ON c_custkey = o_custkey
           GROUP BY 1, 2),
         edges AS (
           SELECT 'DIS_' || m AS disease_id, 'TGT_' || p AS target_id,
             round(q / sum(q) OVER (PARTITION BY p), 6) AS score
           FROM pair),
         mine AS (
           SELECT e.target_id, e.score,
             row_number() OVER (ORDER BY e.score DESC, e.target_id) AS rn
           FROM edges e
           WHERE e.disease_id = 'DIS_MACHINERY' AND e.score >= 0.33)
         SELECT CAST((SELECT count(*) FROM mine) AS BIGINT) AS n_rows,
           m.rn, m.target_id, p.p_name AS target_name, m.score
         FROM mine m
         JOIN part p ON 'TGT_' || p.p_partkey = m.target_id
         WHERE m.rn <= 25
         ORDER BY rn"""),

    // ---------------- GraphQL directives (dialect extension) ----------------
    // `@skip(if:)` / `@include(if:)` — the two spec-defined
    // executable directives, resolved at PARSE time (literal or
    // variable conditions — the q205 discipline): q152's template
    // with the rows selection behind a variable-driven @include and a
    // debug field behind @skip(if: true). The resolved AST is
    // identical to the inlined q152 query (GraphQlSpec pins plan
    // equality), so the rows carry q152's oracle verbatim.
    Query("q221_graphql_directives", (s, dir) => {
      val res = graft.api.GraphQl.execute(kgIndexed(s, dir),
        """query diseaseAssociatedDrugs($withRows: Boolean!) {
             disease(efoId: "DIS_BUILDING") {
               id
               name
               debugName: name @skip(if: true)
               knownDrugs {
                 count
                 rows @include(if: $withRows) {
                   phase
                   drug { id name }
                 }
               }
             }
           }""", Map("withRows" -> "true"))
      res.select(col("id").as("disease_id"), col("name").as("disease_name"),
          col("knownDrugs.count").as("n_rows"),
          posexplode(col("knownDrugs.rows")).as(Seq("rn", "r")))
        .select(col("disease_id"), col("disease_name"), col("n_rows"),
          (col("rn") + 1).cast("long").as("rn"),
          col("r.phase").as("phase"),
          col("r.drug.id").as("drug_id"), col("r.drug.name").as("drug_name"))
        .orderBy("rn")
    }, oracle = SqlKnownDrugsFold),

    // ---------------- GraphQL union object (inline fragments) ----------------
    // The docs-style Apollo query every generated client emits at the
    // search root: inline-fragment arms over `SearchResult.object`
    // (EntityUnionType = Target | Drug | Disease, opentargets.schema:
    // 502,1290), resolved as the union tag + one nullable struct per
    // arm (SURVEY §1.2) inside a rank-limited page. The flat
    // projection dissects tag and every arm field, so the oracle
    // hashes the whole union encoding.
    Query("q231_graphql_search_union", (s, dir) =>
      graft.api.GraphQl.execute(kgIndexed(s, dir),
        """{
             search(queryString: "r", page: {index: 0, size: 50}) {
               total
               hits { id entity object {
                 __typename
                 ... on Target { approvedSymbol bioType }
                 ... on Drug { name drugType isApproved }
                 ... on Disease { name } } }
             }
           }""")
        .select(col("total"), posexplode(col("hits")).as(Seq("rn", "r")))
        .select(col("total"), (col("rn") + 1).cast("long").as("rn"),
          col("r.id").as("id"), col("r.entity").as("entity"),
          col("r.object.__typename").as("tname"),
          col("r.object.Target.approvedSymbol").as("t_sym"),
          col("r.object.Target.bioType").as("t_bio"),
          col("r.object.Drug.name").as("d_name"),
          col("r.object.Drug.drugType").as("d_type"),
          // string-normalized: a nullable BOOLEAN reads as NaN from
          // DuckDB but None from parquet — the hash would split on
          // representation, not value
          col("r.object.Drug.isApproved").cast("string").as("d_appr"),
          col("r.object.Disease.name").as("s_name"))
        .orderBy("rn"), oracle =
      // search-union page: tag + arm columns dissected per entity kind;
      // total is the FULL match count while rows stop at the page
      """WITH hits AS (
           SELECT 'DIS_' || c_mktsegment AS id, c_mktsegment AS name,
             'disease' AS entity, CAST(NULL AS VARCHAR) AS bio,
             CAST(NULL AS VARCHAR) AS dtype, CAST(NULL AS BOOLEAN) AS appr
           FROM (SELECT DISTINCT c_mktsegment FROM customer)
           WHERE lower(c_mktsegment) LIKE '%r%'
           UNION ALL
           SELECT 'TGT_' || p_partkey, p_name, 'target', p_type,
             CAST(NULL AS VARCHAR), CAST(NULL AS BOOLEAN)
           FROM part WHERE lower(p_name) LIKE '%r%'
           UNION ALL
           SELECT 'DRG_' || s_suppkey, s_name, 'drug',
             CAST(NULL AS VARCHAR), lower(n_name), s_acctbal >= 0
           FROM supplier JOIN nation ON n_nationkey = s_nationkey
           WHERE lower(s_name) LIKE '%r%'),
         sel AS (
           SELECT *, row_number() OVER (ORDER BY name, id) AS rn FROM hits)
         SELECT (SELECT count(*) FROM hits) AS total, rn, id, entity,
           CASE entity WHEN 'disease' THEN 'Disease'
             WHEN 'target' THEN 'Target' ELSE 'Drug' END AS tname,
           CASE WHEN entity = 'target' THEN name END AS t_sym,
           bio AS t_bio,
           CASE WHEN entity = 'drug' THEN name END AS d_name,
           dtype AS d_type, CAST(appr AS VARCHAR) AS d_appr,
           CASE WHEN entity = 'disease' THEN name END AS s_name
         FROM sel WHERE rn <= 50 ORDER BY rn"""),

    // ---------------- GraphQL facets root ----------------
    // The schema's remaining search feature (opentargets.schema:
    // 1161-1173): category-narrowed facet hits with per-category
    // counts over the FULL query scope — the facet-navigation
    // contract. Flat projection: each hit row carries the three
    // category counts dissected out of the categories array.
    Query("q232_graphql_facets", (s, dir) =>
      graft.api.GraphQl.execute(kgIndexed(s, dir),
        """{
             facets(queryString: "r", category: "disease") {
               total
               hits { id label category }
               categories { name total }
             }
           }""")
        .select(col("total"), posexplode(col("hits")).as(Seq("rn", "r")),
          col("categories"))
        .select(col("total"), (col("rn") + 1).cast("long").as("rn"),
          col("r.id").as("id"), col("r.label").as("label"),
          col("r.category").as("category"),
          element_at(filter(col("categories"),
            c => c.getField("name") === lit("disease")), 1)
            .getField("total").as("n_disease"),
          element_at(filter(col("categories"),
            c => c.getField("name") === lit("target")), 1)
            .getField("total").as("n_target"),
          element_at(filter(col("categories"),
            c => c.getField("name") === lit("drug")), 1)
            .getField("total").as("n_drug"))
        .orderBy("rn"), oracle =
      // facets: hits narrowed to one category, counts over the full
      // query scope riding every row
      """WITH scope AS (
           SELECT 'DIS_' || c_mktsegment AS id, c_mktsegment AS name,
             'disease' AS entity
           FROM (SELECT DISTINCT c_mktsegment FROM customer)
           WHERE lower(c_mktsegment) LIKE '%r%'
           UNION ALL
           SELECT 'TGT_' || p_partkey, p_name, 'target'
           FROM part WHERE lower(p_name) LIKE '%r%'
           UNION ALL
           SELECT 'DRG_' || s_suppkey, s_name, 'drug'
           FROM supplier WHERE lower(s_name) LIKE '%r%'),
         h AS (SELECT * FROM scope WHERE entity = 'disease'),
         sel AS (
           SELECT id, name, entity,
             row_number() OVER (ORDER BY name, id) AS rn FROM h)
         SELECT (SELECT count(*) FROM h) AS total, rn, id,
           name AS label, entity AS category,
           (SELECT count(*) FROM scope WHERE entity = 'disease') AS n_disease,
           (SELECT count(*) FROM scope WHERE entity = 'target') AS n_target,
           (SELECT count(*) FROM scope WHERE entity = 'drug') AS n_drug
         FROM sel ORDER BY rn"""),

    // ---------------- GraphQL search aggregations ----------------
    // SearchResultAggs (opentargets.schema:1304-1312): entity facet
    // counts with nested categories riding next to a rank-limited
    // page — aggregations always cover the FULL match set (one keyed
    // agg over the dimension union). The flat projection dissects
    // every aggregate and the lone-category convention.
    Query("q235_graphql_search_aggs", (s, dir) =>
      graft.api.GraphQl.execute(kgIndexed(s, dir),
        """{
             search(queryString: "r", page: {index: 0, size: 10}) {
               total
               aggregations { total
                 entities { name total categories { name total } } }
               hits { id entity }
             }
           }""")
        .select(col("total"), col("aggregations"),
          posexplode(col("hits")).as(Seq("rn", "r")))
        .select(col("total"), (col("rn") + 1).cast("long").as("rn"),
          col("r.id").as("id"), col("r.entity").as("entity"),
          col("aggregations.total").as("agg_total"),
          element_at(filter(col("aggregations.entities"),
            e => e.getField("name") === lit("disease")), 1)
            .getField("total").as("n_disease"),
          element_at(filter(col("aggregations.entities"),
            e => e.getField("name") === lit("target")), 1)
            .getField("total").as("n_target"),
          element_at(filter(col("aggregations.entities"),
            e => e.getField("name") === lit("drug")), 1)
            .getField("total").as("n_drug"),
          element_at(element_at(filter(col("aggregations.entities"),
            e => e.getField("name") === lit("drug")), 1)
            .getField("categories"), 1)
            .getField("total").as("drug_cat_total"))
        .orderBy("rn"), oracle =
      // search aggregations: full-scope facet counts next to a page
      """WITH scope AS (
           SELECT 'DIS_' || c_mktsegment AS id, c_mktsegment AS name,
             'disease' AS entity
           FROM (SELECT DISTINCT c_mktsegment FROM customer)
           WHERE lower(c_mktsegment) LIKE '%r%'
           UNION ALL
           SELECT 'TGT_' || p_partkey, p_name, 'target'
           FROM part WHERE lower(p_name) LIKE '%r%'
           UNION ALL
           SELECT 'DRG_' || s_suppkey, s_name, 'drug'
           FROM supplier WHERE lower(s_name) LIKE '%r%'),
         sel AS (
           SELECT id, entity,
             row_number() OVER (ORDER BY name, id) AS rn FROM scope)
         SELECT (SELECT count(*) FROM scope) AS total, rn, id, entity,
           (SELECT count(*) FROM scope) AS agg_total,
           (SELECT count(*) FROM scope WHERE entity = 'disease') AS n_disease,
           (SELECT count(*) FROM scope WHERE entity = 'target') AS n_target,
           (SELECT count(*) FROM scope WHERE entity = 'drug') AS n_drug,
           (SELECT count(*) FROM scope WHERE entity = 'drug') AS drug_cat_total
         FROM sel WHERE rn <= 10 ORDER BY rn"""),

    // ---------------- GraphQL mapIds root ----------------
    // The schema's bulk term-to-ID utility (opentargets.schema:
    // 1176-1181): a term batch rides as a broadcast relation into ONE
    // substring-match scan (the S4 batch-lookup discipline — never a
    // scan per term); mappings keep request order and a zero-hit term
    // still emits (empty hits). posexplode_outer keeps that empty
    // mapping as a null-rn row, so the oracle pins it.
    Query("q236_graphql_mapids", (s, dir) =>
      graft.api.GraphQl.execute(kgIndexed(s, dir),
        """{
             mapIds(queryTerms: ["machinery", "zzqq", "lavender"]) {
               total
               mappings { term hits { id name entity } }
             }
           }""")
        .select(col("total"), posexplode(col("mappings")).as(Seq("m0", "mp")))
        .select(col("total"), (col("m0") + 1).cast("long").as("ord"),
          col("mp.term").as("term"), col("mp.hits").as("hits"))
        .select(col("total"), col("ord"), col("term"),
          posexplode_outer(col("hits")).as(Seq("h0", "hit")))
        .select(col("total"), col("ord"), col("term"),
          (col("h0") + 1).cast("long").as("rn"),
          col("hit.id").as("id"), col("hit.name").as("name"),
          col("hit.entity").as("entity"))
        .orderBy("ord", "rn"), oracle =
      // mapIds: per-term hit lists in request order; the zero-hit term
      // rides as a null-rn row
      """WITH terms(term, ord) AS (
           VALUES ('machinery', 1), ('zzqq', 2), ('lavender', 3)),
         scope AS (
           SELECT 'DIS_' || c_mktsegment AS id, c_mktsegment AS name,
             'disease' AS entity
           FROM (SELECT DISTINCT c_mktsegment FROM customer)
           UNION ALL
           SELECT 'TGT_' || p_partkey, p_name, 'target' FROM part
           UNION ALL
           SELECT 'DRG_' || s_suppkey, s_name, 'drug' FROM supplier),
         m AS (
           SELECT t.term, t.ord, s.id, s.name, s.entity
           FROM terms t JOIN scope s
             ON contains(lower(s.name), lower(t.term))),
         r AS (
           SELECT term, ord, id, name, entity,
             row_number() OVER (PARTITION BY term ORDER BY name, id) AS rn
           FROM m)
         SELECT (SELECT count(*) FROM m) AS total,
           CAST(t.ord AS BIGINT) AS ord, t.term,
           CAST(r.rn AS BIGINT) AS rn, r.id, r.name, r.entity
         FROM terms t LEFT JOIN r ON r.term = t.term
         ORDER BY ord, rn"""),

    // ---------------- GraphQL geneOntologyTerms root ----------------
    // The schema's last batch-lookup root (opentargets.schema:
    // 1189-1192): a GO-id batch rides as ONE broadcast-joined
    // exact-match scan of the term catalog, and the result list is
    // POSITIONAL — request order kept, a missing id emitting a NULL
    // entry (the element type is nullable, `[GeneOntologyTerm]!`,
    // unlike the other batch roots' `[X!]!`). posexplode keeps the
    // null entry as a null-id row at its request position; the
    // oracle replays the catalog and the positional left join.
    Query("q240_graphql_go_terms", (s, dir) =>
      graft.api.GraphQl.execute(kgIndexed(s, dir),
        """{
             geneOntologyTerms(
                 goIds: ["GO_BRAND_31", "GO_NOPE", "GO_BRAND_13"]) {
               id name
             }
           }""")
        .select(posexplode(col("geneOntologyTerms")).as(Seq("i", "g")))
        .select((col("i") + 1).cast("long").as("ord"),
          col("g.id").as("id"), col("g.name").as("name"))
        .orderBy("ord"), oracle =
      // geneOntologyTerms: positional batch lookup — request order
      // kept, the missing id's entry is a null row
      """WITH ids(gid, ord) AS (VALUES
           ('GO_BRAND_31', 1), ('GO_NOPE', 2), ('GO_BRAND_13', 3)),
         cat AS (
           SELECT 'GO_' || replace(upper(p_brand), '#', '_') AS id,
             lower(p_brand) AS name
           FROM (SELECT DISTINCT p_brand FROM part))
         SELECT CAST(i.ord AS BIGINT) AS ord, c.id, c.name
         FROM ids i LEFT JOIN cat c ON c.id = i.gid
         ORDER BY ord"""),

    // ---------------- GraphQL meta root ----------------
    // API metadata (opentargets.schema:1118 → Meta :1013-1017): the
    // name scalar plus the apiVersion / dataVersion objects,
    // selection-shaped. dataVersion is a REAL one-row aggregate over
    // orders (latest order date = the data cut, row count = the load
    // iteration), so the oracle replays a computation, not an echo.
    Query("q241_graphql_meta", (s, dir) =>
      graft.api.GraphQl.execute(kgIndexed(s, dir),
        """{
             meta {
               name
               apiVersion { x y z }
               dataVersion { year month iteration }
             }
           }""")
        .select(col("name"),
          col("apiVersion.x").as("x"), col("apiVersion.y").as("y"),
          col("apiVersion.z").as("z"),
          col("dataVersion.year").as("year"),
          col("dataVersion.month").as("month"),
          col("dataVersion.iteration").as("iteration")), oracle =
      // meta: constants + the dataVersion aggregate replayed
      """SELECT 'graft-knowledge-graph' AS name,
           '1' AS x, '0' AS y, '0' AS z,
           CAST(year(max(o_orderdate)) AS VARCHAR) AS year,
           CAST(month(max(o_orderdate)) AS VARCHAR) AS month,
           CAST(count(*) AS VARCHAR) AS iteration
         FROM orders"""),

    // ---------------- GraphQL associationDatasources ----------------
    // The argument-less EvidenceSource catalog (opentargets.schema:
    // 1183-1184): distinct (returnflag, linestatus) datasources
    // grouped by flag into datatypes — a many-to-one the oracle
    // checks. The view is a map-side-combined distinct over two
    // 1-char columns: catalog cost at any corpus scale.
    Query("q242_graphql_datasources", (s, dir) =>
      graft.api.GraphQl.execute(kgIndexed(s, dir),
        "{ associationDatasources { datasource datatype } }")
        .select(posexplode(col("associationDatasources")).as(Seq("i", "d")))
        .select((col("i") + 1).cast("long").as("ord"),
          col("d.datasource").as("datasource"),
          col("d.datatype").as("datatype"))
        .orderBy("ord"), oracle =
      // the EvidenceSource catalog: sources sorted, datatype = the flag
      """WITH cat AS (
           SELECT DISTINCT
             lower(l_returnflag || '_' || l_linestatus) AS datasource,
             lower(l_returnflag) AS datatype
           FROM lineitem)
         SELECT row_number() OVER (ORDER BY datasource) AS ord,
           datasource, datatype
         FROM cat ORDER BY ord"""),

    // ---------------- GraphQL interactionResources ----------------
    // The second catalog root (opentargets.schema:1186-1187): one
    // entry per region, the version counting its nations — a real
    // grouped aggregate behind a static-catalog API.
    Query("q243_graphql_interactions", (s, dir) =>
      graft.api.GraphQl.execute(kgIndexed(s, dir),
        "{ interactionResources { sourceDatabase databaseVersion } }")
        .select(posexplode(col("interactionResources")).as(Seq("i", "d")))
        .select((col("i") + 1).cast("long").as("ord"),
          col("d.sourceDatabase").as("source_db"),
          col("d.databaseVersion").as("db_version"))
        .orderBy("ord"), oracle =
      // the InteractionResources catalog: one row per region, version
      // counting its nations
      """WITH cat AS (
           SELECT 'v' || CAST(count(*) AS VARCHAR) AS db_version,
             lower(r_name) AS source_db
           FROM region r JOIN nation n ON r.r_regionkey = n.n_regionkey
           GROUP BY r_name)
         SELECT row_number() OVER (ORDER BY source_db) AS ord,
           source_db, db_version
         FROM cat ORDER BY ord"""),

    // ---------------- GraphQL __typename (dialect extension) ----------------
    // The meta-field Apollo-generation clients inject into EVERY
    // query: q152's template with __typename at all four selection
    // levels (root entity, connection object, row object, nested
    // entity), each resolving to the reference schema's type name as
    // a plan-time constant. The row payload is q152's with four
    // literal columns — the oracle appends the same constants.
    Query("q229_graphql_typename", (s, dir) => {
      val res = graft.api.GraphQl.execute(kgIndexed(s, dir),
        """{
             disease(efoId: "DIS_BUILDING") {
               __typename
               id
               name
               knownDrugs {
                 __typename
                 count
                 rows {
                   __typename
                   phase
                   drug { __typename id name }
                 }
               }
             }
           }""")
      res.select(col("__typename").as("disease_type"),
          col("id").as("disease_id"), col("name").as("disease_name"),
          col("knownDrugs.__typename").as("conn_type"),
          col("knownDrugs.count").as("n_rows"),
          posexplode(col("knownDrugs.rows")).as(Seq("rn", "r")))
        .select(col("disease_type"), col("disease_id"), col("disease_name"),
          col("conn_type"), col("n_rows"),
          (col("rn") + 1).cast("long").as("rn"),
          col("r.__typename").as("row_type"),
          col("r.phase").as("phase"),
          col("r.drug.__typename").as("drug_type"),
          col("r.drug.id").as("drug_id"), col("r.drug.name").as("drug_name"))
        .orderBy("rn")
    }, oracle =
      // q152's fold + the schema type names as constants at every level
      """WITH kd AS (
           SELECT 'DRG_' || l_suppkey AS drug_id,
             'TGT_' || l_partkey AS tgt_id,
             round(least(4.0, count(*) / 10.0), 1) AS phase
           FROM lineitem
           JOIN orders ON o_orderkey = l_orderkey
           JOIN customer ON c_custkey = o_custkey
           WHERE c_mktsegment = 'BUILDING'
           GROUP BY 1, 2),
         r AS (
           SELECT row_number() OVER (ORDER BY drug_id, tgt_id) AS rn,
             phase, drug_id
           FROM kd)
         SELECT 'Disease' AS disease_type,
           'DIS_BUILDING' AS disease_id, 'BUILDING' AS disease_name,
           'KnownDrugs' AS conn_type,
           (SELECT count(*) FROM kd) AS n_rows,
           CAST(r.rn AS BIGINT) AS rn,
           'KnownDrug' AS row_type, r.phase,
           'Drug' AS drug_type, r.drug_id,
           s.s_name AS drug_name
         FROM r JOIN supplier s ON 'DRG_' || s.s_suppkey = r.drug_id
         WHERE r.rn <= 25
         ORDER BY rn"""),

    // ---------------- GraphQL variables (dialect extension) ----------------
    // The `query ($id: String!)` parameterized form every Open
    // Targets docs example uses: q152's diseaseAssociatedDrugs
    // template with the efoId hoisted into a declared variable bound
    // at execute() time. Bindings substitute at PARSE time, so the
    // resolved AST — and therefore the plan and the rows — is
    // byte-identical to the inlined q152 form; the oracle is q152's,
    // verbatim (GraphQlSpec additionally pins default values and the
    // undeclared/unbound error paths).
    Query("q205_graphql_variables", (s, dir) => {
      val res = graft.api.GraphQl.execute(kgIndexed(s, dir),
        """query diseaseAssociatedDrugs($efoId: String!) {
             disease(efoId: $efoId) {
               id
               name
               knownDrugs {
                 count
                 rows {
                   phase
                   drug { id name }
                 }
               }
             }
           }""", Map("efoId" -> "DIS_BUILDING"))
      res.select(col("id").as("disease_id"), col("name").as("disease_name"),
          col("knownDrugs.count").as("n_rows"),
          posexplode(col("knownDrugs.rows")).as(Seq("rn", "r")))
        .select(col("disease_id"), col("disease_name"), col("n_rows"),
          (col("rn") + 1).cast("long").as("rn"),
          col("r.phase").as("phase"),
          col("r.drug.id").as("drug_id"), col("r.drug.name").as("drug_name"))
        .orderBy("rn")
    }, oracle =
      // variables resolve at parse time to exactly q152's AST → the
      // same oracle verbatim
      SqlKnownDrugsFold),

    // ---------------- GraphQL introspection ----------------
    // The first request every real client (GraphiQL, Apollo,
    // graphql-request) sends: `__schema { queryType { fields } }`.
    // The dialect serves the minimal introspection surface over its
    // OWN executable Query type — a root appears iff execute()
    // dispatches it (introspection as a contract, not an echo of the
    // schema file), result types rendered as the schema writes them.
    // Catalog-cost (q242/q243's class): pure driver state, one
    // range(1) row. FULL oracle: the 13 roots and their renderings.
    Query("q249_graphql_introspection", (s, dir) =>
      graft.api.GraphQl.execute(kgIndexed(s, dir),
        """{ __schema {
             queryType { name fields { name type { name } } } } }""")
        .select(col("queryType.name").as("query_type"),
          posexplode(col("queryType.fields")).as(Seq("i", "f")))
        .select(col("query_type"), (col("i") + 1).cast("long").as("ord"),
          col("f.name").as("root"), col("f.type.name").as("type_name"))
        .orderBy("ord"), oracle =
      // introspection: the executable Query type verbatim (sorted)
      """SELECT 'Query' AS query_type, CAST(ord AS BIGINT) AS ord,
           root, type_name
         FROM (VALUES
           (1, 'associationDatasources', '[EvidenceSource!]!'),
           (2, 'disease', 'Disease'),
           (3, 'diseases', '[Disease!]!'),
           (4, 'drug', 'Drug'),
           (5, 'drugs', '[Drug!]!'),
           (6, 'facets', 'SearchFacetsResults!'),
           (7, 'geneOntologyTerms', '[GeneOntologyTerm]!'),
           (8, 'interactionResources', '[InteractionResources!]!'),
           (9, 'mapIds', 'MappingResults!'),
           (10, 'meta', 'Meta!'),
           (11, 'search', 'SearchResults!'),
           (12, 'target', 'Target'),
           (13, 'targets', '[Target!]!')) AS t(ord, root, type_name)
         ORDER BY ord"""),

    // ---------------- GraphQL entity-field headroom ----------------
    // The schema's non-consumed entity fields, executed: tractability
    // (opentargets.schema:1416, 1546-1550) — the Target druggability
    // assessment derived from the part's own attributes, one row per
    // modality bucket, deterministic modality order.
    Query("q250_graphql_tractability", (s, dir) =>
      graft.api.GraphQl.execute(kgIndexed(s, dir),
        """{
             target(ensemblId: "TGT_3") {
               id
               approvedSymbol
               tractability { label modality value }
             }
           }""")
        .select(col("id"), col("approvedSymbol"),
          posexplode(col("tractability")).as(Seq("rn", "r")))
        .select(col("id"), col("approvedSymbol"),
          (col("rn") + 1).cast("long").as("rn"),
          col("r.label").as("label"), col("r.modality").as("modality"),
          col("r.value").as("value"))
        .orderBy("rn"), oracle =
      // tractability — the four modality assessments re-derived from
      // the part's own attributes (the same predicates the KG view
      // evaluates), modality-ordered
      """WITH tr AS (
           SELECT 'discovery_precedence' AS label, 'SM' AS modality,
             p_size <= 25 AS value FROM part WHERE p_partkey = 3
           UNION ALL SELECT 'surface_accessible', 'AB',
             contains(p_brand, '#3') FROM part WHERE p_partkey = 3
           UNION ALL SELECT 'mod_ubiquitination', 'PR',
             p_retailprice > 1500 FROM part WHERE p_partkey = 3
           UNION ALL SELECT 'clinical_precedence', 'OC',
             p_type LIKE 'PROMO%' FROM part WHERE p_partkey = 3)
         SELECT 'TGT_3' AS id,
           (SELECT p_name FROM part WHERE p_partkey = 3) AS approvedSymbol,
           row_number() OVER (ORDER BY modality) AS rn,
           label, modality, value
         FROM tr ORDER BY rn"""),

    // Disease.phenotypes(page:) — DiseaseHPOs rows with the nested
    // phenotypeHPO entity (opentargets.schema:224-228, 279-288,
    // 727-739): paginated (first 10 of the segment's nations), count
    // the connection TOTAL
    Query("q251_graphql_phenotypes", (s, dir) =>
      graft.api.GraphQl.execute(kgIndexed(s, dir),
        """{
             disease(efoId: "DIS_BUILDING") {
               id
               name
               phenotypes(page: {index: 0, size: 10}) {
                 count
                 rows {
                   phenotypeHPO { id name description namespace }
                 }
               }
             }
           }""")
        .select(col("id"), col("name"),
          col("phenotypes.count").as("n_phenotypes"),
          posexplode(col("phenotypes.rows")).as(Seq("rn", "r")))
        .select(col("id"), col("name"), col("n_phenotypes"),
          (col("rn") + 1).cast("long").as("rn"),
          col("r.phenotypeHPO.id").as("hpo_id"),
          col("r.phenotypeHPO.name").as("hpo_name"),
          col("r.phenotypeHPO.description").as("hpo_desc"),
          element_at(col("r.phenotypeHPO.namespace"), 1).as("hpo_ns"))
        .orderBy("rn"), oracle =
      // phenotypes — the segment's distinct customer nations as HPO
      // rows (region = namespace), first page of 10, count the total
      """WITH ph AS (
           SELECT DISTINCT c_nationkey AS nk FROM customer
           WHERE c_mktsegment = 'BUILDING'),
         r AS (
           SELECT printf('HP_%07d', nk) AS hpo_id, lower(n_name) AS hpo_name,
             lower(r_name) AS hpo_ns
           FROM ph JOIN nation ON n_nationkey = nk
           JOIN region ON r_regionkey = n_regionkey),
         rk AS (
           SELECT hpo_id, hpo_name, hpo_ns,
             row_number() OVER (ORDER BY hpo_id) AS rn FROM r)
         SELECT 'DIS_BUILDING' AS id, 'BUILDING' AS name,
           (SELECT count(*) FROM r) AS n_phenotypes, rn, hpo_id, hpo_name,
           'phenotype of ' || hpo_name AS hpo_desc, hpo_ns
         FROM rk WHERE rn <= 10 ORDER BY rn"""),

    // Disease.evidences(ensemblIds:, size:) — the Evidences batch
    // probe (opentargets.schema:230-240, Evidence :505-509): the
    // request names its targets, the engine answers with ONE
    // isin-pruned probe of the persisted association index; count is
    // the filtered total, rows the size-limited score ranking
    Query("q252_graphql_evidences", (s, dir) =>
      graft.api.GraphQl.execute(kgIndexed(s, dir),
        """{
             disease(efoId: "DIS_MACHINERY") {
               id
               evidences(ensemblIds: ["TGT_1", "TGT_5", "TGT_9", "TGT_12"],
                         size: 3) {
                 count
                 rows {
                   id
                   score
                   target { id approvedSymbol }
                 }
               }
             }
           }""")
        .select(col("id").as("disease_id"),
          col("evidences.count").as("n_evidence"),
          posexplode(col("evidences.rows")).as(Seq("rn", "r")))
        .select(col("disease_id"), col("n_evidence"),
          (col("rn") + 1).cast("long").as("rn"),
          col("r.id").as("evidence_id"), col("r.score").as("score"),
          col("r.target.id").as("target_id"),
          col("r.target.approvedSymbol").as("target_name"))
        .orderBy("rn"), oracle =
      // evidences — the q155 association derivation filtered to the
      // requested targets; count before the size cut, rows ranked
      // (score desc, evidence id) like the executor's sort keys
      """WITH pair AS (
           SELECT c_mktsegment AS m, l_partkey AS p, sum(l_quantity) AS q
           FROM lineitem
           JOIN orders ON o_orderkey = l_orderkey
           JOIN customer ON c_custkey = o_custkey
           GROUP BY 1, 2),
         edges AS (
           SELECT 'DIS_' || m AS disease_id, 'TGT_' || p AS target_id,
             round(q / sum(q) OVER (PARTITION BY p), 6) AS score
           FROM pair),
         ev AS (
           SELECT 'EVD_' || disease_id || '_' || target_id AS eid,
             target_id, score
           FROM edges
           WHERE disease_id = 'DIS_MACHINERY'
             AND target_id IN ('TGT_1', 'TGT_5', 'TGT_9', 'TGT_12')),
         rk AS (
           SELECT eid, target_id, score,
             row_number() OVER (ORDER BY score DESC, eid) AS rn FROM ev)
         SELECT 'DIS_MACHINERY' AS disease_id,
           (SELECT count(*) FROM ev) AS n_evidence, rn,
           rk.eid AS evidence_id, rk.score, rk.target_id,
           p.p_name AS target_name
         FROM rk JOIN part p ON 'TGT_' || p.p_partkey = rk.target_id
         WHERE rn <= 3 ORDER BY rn"""),

    // Target.similarEntities(size:) — the schema's model-based
    // similarity field (opentargets.schema:1422-1431, Similarity
    // :1338-1345) served by the engine's own vector tier: the root's
    // sidecar vector probes the corpus with the exact brute cosine
    // top-k; hits past the entity table's key range resolve object
    // to GraphQL null (the union arm exercises both branches)
    Query("q253_graphql_similar_entities", (s, dir) =>
      graft.api.GraphQl.execute(kgIndexed(s, dir),
        """{
             target(ensemblId: "TGT_7") {
               id
               approvedSymbol
               similarEntities(size: 8) {
                 id
                 category
                 score
                 object {
                   __typename
                   ... on Target { id approvedSymbol }
                 }
               }
             }
           }""")
        .select(col("id").as("root_id"),
          col("approvedSymbol").as("root_name"),
          posexplode(col("similarEntities")).as(Seq("rn", "r")))
        .select(col("root_id"), col("root_name"),
          (col("rn") + 1).cast("long").as("rn"),
          col("r.id").as("sim_id"), col("r.category").as("category"),
          col("r.score").as("score"),
          col("r.object.__typename").as("obj_type"),
          col("r.object.Target.id").as("obj_id"),
          col("r.object.Target.approvedSymbol").as("obj_name"))
        .orderBy("rn"), oracle =
      // similarEntities — the q33 brute-cosine relation from the
      // root's sidecar vector (vec_id 7), top 8, each hit left-joined
      // to its entity row (hits past the part key range resolve the
      // object to NULL — both union branches exercised)
      """WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 7),
         topk AS (
           SELECT e.vec_id,
             round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
               CAST(q.embedding AS DOUBLE[])), 6) AS cosine
           FROM embeddings e, q WHERE e.vec_id <> 7
           ORDER BY cosine DESC, e.vec_id LIMIT 8),
         rk AS (
           SELECT vec_id, cosine,
             row_number() OVER (ORDER BY cosine DESC, vec_id) AS rn
           FROM topk)
         SELECT 'TGT_7' AS root_id,
           (SELECT p_name FROM part WHERE p_partkey = 7) AS root_name,
           rk.rn, 'TGT_' || rk.vec_id AS sim_id, 'target' AS category,
           rk.cosine AS score,
           CASE WHEN p.p_partkey IS NULL THEN NULL
                ELSE 'Target' END AS obj_type,
           CASE WHEN p.p_partkey IS NULL THEN NULL
                ELSE 'TGT_' || p.p_partkey END AS obj_id,
           p.p_name AS obj_name
         FROM rk LEFT JOIN part p ON p.p_partkey = rk.vec_id
         ORDER BY rn"""),
  )
}
