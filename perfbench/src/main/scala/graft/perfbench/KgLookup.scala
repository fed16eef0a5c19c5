package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.api.{ClientApi, GraphQl, KnowledgeGraph}

/** `kg-lookup`: one client sending knowledge-graph requests back to
  * back. Each request is one of
  *
  *  - a GraphQL document (the registry's q152/q155/q178/q158/q154
  *    queries in their variables form) run through `GraphQl.execute`
  *    over `KnowledgeGraph(spark, dir, indexPath)`,
  *  - a `ClientApi` call (the registry's q61 chain),
  *  - a registry row built verbatim through `SparkEntry.queries` (the
  *    GraphQL rows q153 and q165, which need no index).
  *
  * Every answer is collected as JSON rows, the way `Graft.graphqlJson`
  * renders the GraphQL `data` object for a client. Template order and
  * ids come from the seeded plan.
  */
final class KgLookup(ctx: RunCtx) extends Workload {
  import KgLookup._

  private val requests: Vector[(String, String)] =
    ctx.plan.get("kg_requests").elements().asScala
      .map(r => (r.get(0).asText, r.get(1).asText)).toVector
  private var cursor = 0
  private var spark: SparkSession = _
  private var dir: String = _
  private var index: String = _
  /** first answer per distinct request, and how many repeats disagreed */
  private val answers = mutable.LinkedHashMap.empty[(String, String), Array[String]]
  private var unstable = 0

  def setup(session: SparkSession, rep: Int): Unit = {
    spark = session
    dir = ctx.corpus(rep)
    index = s"${ctx.workDir}/kgidx-$rep"
    val kg = KnowledgeGraph(spark, dir, index)
    // the edge relations every template reads: first touch builds and
    // publishes them through the Artifact protocol
    ctx.trace.span("Artifact.ensure") {
      kg.associatedTargets; kg.knownDrugs; kg.linkedTargets
    }
  }

  def warmUp(): Unit = {
    Templates.foreach(t => answer(t, WarmIds(IdKind(t))))
    registryRows.foreach(n => answer(Registry, n))
  }

  /** registry rows named in the plan, resolved to full registry names */
  private lazy val registryRows: Seq[String] = requests.collect {
    case (Registry, p) => p }.distinct.sorted.map(resolve)

  private def resolve(prefix: String): String =
    SparkEntry.queries.keys.filter(_.startsWith(prefix)).toSeq.sorted.headOption
      .getOrElse(throw new IllegalArgumentException(s"no registry row $prefix"))

  /** A round holds every template once, so runs cut at a round boundary
    * all have the same template mix.
    */
  override def roundDone: Boolean = cursor % RoundSize == 0

  def next(): Option[Op] =
    if (cursor >= requests.size) None
    else {
      val (t, id0) = requests(cursor)
      val id = if (t == Registry) resolve(id0) else id0
      cursor += 1
      Some(Op(t, id, () => {
        val rows = answer(t, id)
        answers.get((t, id)) match {
          case Some(prev) => if (!prev.sameElements(rows)) unstable += 1
          case None => answers((t, id)) = rows
        }
        rows.length.toLong
      }))
    }

  private def answer(t: String, id: String): Array[String] = {
    val tr = ctx.trace
    val kg = tr.span("KnowledgeGraph.resolve") { KnowledgeGraph(spark, dir, index) }
    val df = GraphQlDocs.get(t) match {
      case _ if t == Registry =>
        tr.span("SparkEntry.build") { SparkEntry.queries(id)(spark, dir) }
      case Some(doc) =>
        tr.span("GraphQl.execute") { GraphQl.execute(kg, doc, Map("id" -> id)) }
      case None => tr.span("ClientApi.build") {
        val s = spark
        import s.implicits._
        ClientApi.getDrugFirstTarget(kg, Seq(id).toDF("id")).orderBy("id")
      }
    }
    tr.span("Client.collect") { Workload.jsonRows(df) }
  }

  def finish(session: SparkSession): Map[String, Double] = {
    // registry rows: each result once more, as parquet for the oracle
    // and as JSON rows to compare with the answers served in the window
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val oracle = m.createObjectNode()
    val rebuilt = m.createObjectNode()
    registryRows.foreach { n =>
      val df = SparkEntry.queries(n)(spark, dir)
      df.write.mode("overwrite").parquet(s"${ctx.outDir}/registry/$n")
      val arr = rebuilt.putArray(n)
      Workload.jsonRows(df).foreach(arr.add)
      SparkEntry.oracleSql.get(n).foreach(oracle.put(n, _))
    }
    // the oracle of each template's source row, for the checker to
    // substitute the request's id into
    val sources = m.createObjectNode()
    SourceRows.foreach { case (t, prefix) =>
      sources.put(t, SparkEntry.oracleSql(resolve(prefix))) }
    m.writeValue(new java.io.File(s"${ctx.outDir}/registry_oracle.json"), oracle)
    m.writeValue(new java.io.File(s"${ctx.outDir}/registry_rebuilt.json"), rebuilt)
    m.writeValue(new java.io.File(s"${ctx.outDir}/template_oracle.json"), sources)
    Workload.writeLines(s"${ctx.outDir}/kg_answers.jsonl", answers.map {
      case ((t, id), rows) =>
        val o = m.createObjectNode()
        o.put("template", t); o.put("id", id)
        val arr = o.putArray("rows")
        rows.foreach(arr.add)
        m.writeValueAsString(o)
    })
    Map("unstable_answers" -> unstable.toDouble,
      "distinct_requests" -> answers.size.toDouble) ++ parseMs
  }

  /** `GraphQl.execute` parses its document first and graft has no entry
    * point that executes a parsed document, so the parse cannot be
    * timed inside an op. The same call is timed here, after the window,
    * on every distinct request of each GraphQL template: the mean ms per
    * call, by template.
    */
  private def parseMs: Map[String, Double] =
    answers.keys.toSeq.filter(k => GraphQlDocs.contains(k._1)).groupBy(_._1).map {
      case (t, keys) =>
        val reps = 5
        val t0 = System.nanoTime()
        for (_ <- 1 to reps; (_, id) <- keys) GraphQl.parse(GraphQlDocs(t), Map("id" -> id))
        s"parse_ms.$t" -> (System.nanoTime() - t0) / 1e6 / (reps * keys.size)
    }
}

object KgLookup {
  /** the template name of registry-row requests; their id is the row */
  val Registry = "registry"
  val RoundSize = 8

  val GraphQlDocs: Map[String, String] = Map(
    "disease_known_drugs" ->
      """query diseaseAssociatedDrugs($id: String!) {
           disease(efoId: $id) {
             id name
             knownDrugs { count rows { phase drug { id name } } }
           }
         }""",
    "disease_assoc_targets" ->
      """query ($id: String!) {
           disease(efoId: $id) {
             associatedTargets { rows { target { id approvedSymbol } score } }
           }
         }""",
    "target_assoc_diseases" ->
      """query GetAssociatedDiseases($id: String!) {
           target(ensemblId: $id) {
             associatedDiseases { rows { disease { id name } score } }
           }
         }""",
    "target_drug_facets" ->
      """query ($id: String!) {
           target(ensemblId: $id) {
             knownDrugs {
               rows {
                 drug { id name synonyms drugType isApproved maximumClinicalTrialPhase }
               }
             }
           }
         }""",
    "drug_linked_targets" ->
      """query ($id: String!) {
           drug(chemblId: $id) {
             id name
             linkedTargets { count rows { rank target { id approvedSymbol } } }
           }
         }""")

  /** The registry row each template reproduces with a variable id; its
    * oracle, with the row's pinned id replaced, checks the answers.
    */
  val SourceRows: Map[String, String] = Map(
    "disease_known_drugs" -> "q152_", "disease_assoc_targets" -> "q155_",
    "target_assoc_diseases" -> "q178_", "target_drug_facets" -> "q158_",
    "drug_linked_targets" -> "q154_", "api_drug_first_target" -> "q61_")

  val IdKind: Map[String, String] = Map(
    "disease_known_drugs" -> "disease", "disease_assoc_targets" -> "disease",
    "target_assoc_diseases" -> "target", "target_drug_facets" -> "target",
    "drug_linked_targets" -> "drug", "api_drug_first_target" -> "drug")

  val Templates: Seq[String] = IdKind.keys.toSeq.sorted

  /** Warm-up ids: entities every generated corpus has. */
  private val WarmIds = Map(
    "disease" -> "DIS_HOUSEHOLD", "target" -> "TGT_7", "drug" -> "DRG_3")
}
