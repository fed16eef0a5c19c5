package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftbridge.Listeners
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.api.{GraphQl, KnowledgeGraph}

/** The kg-lookup GraphQL documents (perfbench's templates, in their
  * `$id` variables form), with the kind of id each takes and the Spark
  * jobs one request may run over an indexed KG.
  */
object KgLookupDocs {
  final case class Doc(template: String, kind: String, text: String, jobs: Int)

  val all: Seq[Doc] = Seq(
    Doc("disease_known_drugs", "disease", """query ($id: String!) { disease(efoId: $id) {
        id name knownDrugs { count rows { phase drug { id name } } } } }""", 4),
    Doc("disease_assoc_targets", "disease", """query ($id: String!) { disease(efoId: $id) {
        associatedTargets { rows { target { id approvedSymbol } score } } } }""", 2),
    Doc("target_assoc_diseases", "target", """query ($id: String!) { target(ensemblId: $id) {
        associatedDiseases { rows { disease { id name } score } } } }""", 2),
    Doc("target_drug_facets", "target", """query ($id: String!) { target(ensemblId: $id) {
        knownDrugs { rows {
        drug { id name synonyms drugType isApproved maximumClinicalTrialPhase } } } } }""", 2),
    Doc("drug_linked_targets", "drug", """query ($id: String!) { drug(chemblId: $id) {
        id name linkedTargets { count rows { rank target { id approvedSymbol } } } } }""", 3))

  /** `df` collected as JSON rows, the way a client reads the answer. */
  def json(df: DataFrame): Seq[String] =
    df.select(to_json(struct(df.columns.map(col).toIndexedSeq: _*))).collect()
      .map(_.getString(0)).toSeq
}

/** The persisted KG index (`KnowledgeGraph` with an index path) as the
  * GraphQL request path reads it.
  */
class KgIndexSpec extends SparkSpec {
  import KgLookupDocs._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("indexed KG: each kg-lookup request runs within its job budget, two passes of ids") {
    val index = s"${tmp("graft_kgjobs_spec")}/kgidx"
    val kg = KnowledgeGraph(spark, sfDir, index)
    // the builds a benchmark's set-up runs: every relation a request reads
    kg.associatedTargets; kg.knownDrugs; kg.linkedTargets
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    sc.addSparkListener(listener)
    val counted = try {
      Seq(Map("disease" -> "DIS_HOUSEHOLD", "target" -> "TGT_7", "drug" -> "DRG_3"),
          Map("disease" -> "DIS_BUILDING", "target" -> "TGT_11", "drug" -> "DRG_5"))
        .zipWithIndex.flatMap { case (ids, pass) => all.map { d =>
          Listeners.drain(sc)
          val j0 = jobs.get
          val rows = json(GraphQl.execute(KnowledgeGraph(spark, sfDir, index), d.text,
            Map("id" -> ids(d.kind))))
          assert(rows.size == 1, s"${d.template}: ${rows.size} rows")
          Listeners.drain(sc)
          (d, pass, jobs.get - j0)
        } }
    } finally sc.removeSparkListener(listener)
    if (counted.exists { case (d, _, n) => n > d.jobs }) fail(counted.map { case (d, p, n) =>
      s"${d.template} pass $p: $n jobs (budget ${d.jobs})" }.mkString("\n"))
  }

  test("indexed KG: an edge to a missing entity serves a null sub-object, count unchanged") {
    // a corpus whose part table lacks one part that lineitem trades:
    // every edge to that target keeps its row, with a null target
    val corpus = tmp("graft_kgmissing_spec")
    new java.io.File(sfDir).listFiles().filter(_.getName.endsWith(".parquet"))
      .filter(_.getName != "part.parquet").foreach(f => java.nio.file.Files
        .copy(f.toPath, new java.io.File(corpus, f.getName).toPath))
    val bare = KnowledgeGraph(spark, sfDir)
    val (drug, target) = {
      val r = bare.linkedTargets.filter(col("rank") === 1).orderBy("drug_id").head()
      (r.getString(0), r.getString(1))
    }
    spark.read.parquet(s"$sfDir/part.parquet")
      .filter(concat(lit("TGT_"), col("p_partkey")) =!= target)
      .write.parquet(s"$corpus/part.parquet")
    val doc = all.find(_.template == "drug_linked_targets").get.text
    val indexed = KnowledgeGraph(spark, corpus, s"${tmp("graft_kgmissing_idx")}/kgidx")
    val served = GraphQl.execute(indexed, doc, Map("id" -> drug)).head()
    val conn = served.getAs[Row]("linkedTargets")
    val rows = conn.getSeq[Row](conn.fieldIndex("rows"))
    val edges = bare.linkedTargets.filter(col("drug_id") === drug).count()
    assert(conn.getAs[Long]("count") == edges && rows.size == edges,
      s"count ${conn.getAs[Long]("count")}, ${rows.size} rows, $edges edges")
    assert(rows.head.getAs[Int]("rank") == 1 && rows.head.getAs[Row]("target") == null,
      s"the missing target must be a null object: ${rows.head}")
    assert(rows.tail.forall(_.getAs[Row]("target") != null))
    // the same answer the per-request joins of an index-less KG serve
    assert(json(GraphQl.execute(indexed, doc, Map("id" -> drug))) ==
      json(GraphQl.execute(KnowledgeGraph(spark, corpus), doc, Map("id" -> drug))))
  }
}
