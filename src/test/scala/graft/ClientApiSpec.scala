package graft

import org.apache.spark.sql.functions._

import graft.api.{ClientApi, KnowledgeGraph}

/** The reference's client-api smoke tests
  * (/root/reference/opentargets_client_api.py:295-356) re-expressed
  * against the KG views: same call shapes, asserted instead of
  * eyeballed.
  */
class ClientApiSpec extends SparkSpec {
  import spark.implicits._

  private lazy val kg = KnowledgeGraph(spark, sfDir)

  test("entity views have KG shape and disjoint id spaces") {
    assert(kg.diseases.count() == 5)
    assert(kg.targets.count() == 200)
    assert(kg.drugs.count() == 10)
    val ids = kg.diseases.select("id")
      .unionByName(kg.targets.select("id"))
      .unionByName(kg.drugs.select("id"))
    assert(ids.count() == ids.distinct().count())
  }

  test("association scores are in (0,1] and each target's shares sum to ~1") {
    val at = kg.associatedTargets
    assert(at.filter(col("score") <= 0 || col("score") > 1).count() == 0)
    val sums = at.groupBy("target_id").agg(sum("score").as("s"))
      .filter(abs(col("s") - 1.0) > 0.001)
    assert(sums.count() == 0)
  }

  test("association scores round a decimal tie as the double rounds") {
    // 323/640 = 0.5046875 exactly in decimal; its double lies just
    // below, so the oracle's round(x, 6) over doubles reads 0.504687
    val got = Seq((323.0, 640.0), (1.0, 3.0), (2.0, 3.0), (1.0, 8.0), (5.0, 5.0)).toDF("q", "n")
      .select(KnowledgeGraph.round6(col("q") / col("n"))).as[Double].collect().toSeq
    assert(got == Seq(0.504687, 0.333333, 0.666667, 0.125, 1.0))
  }

  test("get_disease_ids: search + keep-first dedup") {
    val hits = ClientApi.getDiseaseIds(kg, "BUILD")
    assert(hits.as[(String, String)].collect().toSeq == Seq(("DIS_BUILDING", "BUILDING")))
  }

  test("get_disease_targets: fan-out + threshold + deterministic dedup") {
    val ds = ClientApi.getDiseaseIds(kg, "BUILDING")
    val targets = ClientApi.getDiseaseTargets(kg, ds, minScore = 0.33)
    assert(targets.count() > 0)
    assert(targets.filter(col("score") < 0.33).count() == 0)
    // one row per target id
    assert(targets.count() == targets.select("id").distinct().count())
  }

  test("get_target_diseases excludes the input diseases (P5)") {
    val main = ClientApi.getDiseaseIds(kg, "BUILDING")
    val targets = ClientApi.getDiseaseTargets(kg, main, 0.33)
    val related = ClientApi.getTargetDiseases(kg,
      targets.select(col("id")), minScore = 0.2, excludeDiseaseIds = main)
    assert(related.join(main, Seq("id"), "left_semi").count() == 0)
  }

  test("get_drug_info returns sorted linked-target lists (A3)") {
    val info = ClientApi.getDrugInfo(kg, kg.drugs.select("id"))
    assert(info.count() == 10)
    val lists = info.select("linked_targets").as[Seq[String]].collect()
    assert(lists.forall(l => l == l.sorted))
  }

  test("get_drug_first_target is the rank-1 edge (O3 rows[0] semantics)") {
    val first = ClientApi.getDrugFirstTarget(kg, kg.drugs.select("id"))
    assert(first.count() == 10)
    val viaRank = kg.linkedTargets.filter(col("rank") === 1)
      .select(col("drug_id").as("id"), col("target_id"))
    assert(first.exceptAll(viaRank).count() == 0)
  }

  test("get_target_pathways dedups globally by pathwayId (J6)") {
    val pw = ClientApi.getTargetPathways(kg, kg.targets.select("id"))
    assert(pw.count() == pw.select("pathwayId").distinct().count())
    assert(pw.count() > 0)
  }

  test("candidate-drugs algebra composes from api calls (§3.1 D_T_D − D_D)") {
    val main = ClientApi.getDiseaseIds(kg, "HOUSEHOLD")
    val targets = ClientApi.getDiseaseTargets(kg, main, 0.33)
    val dtd = ClientApi.getDrugTargets(kg, kg.drugs.select("id"))
      .join(targets.select(col("id")), Seq("id"), "left_semi")
      .select(col("drug_id").as("id")).distinct()
    val dd = ClientApi.getDiseaseDrugs(kg, main).select("id")
    val candidates = dtd.except(dd)
    // invariant: (A − B) ∩ B = ∅
    assert(candidates.join(dd, Seq("id"), "left_semi").count() == 0)
  }
}
