package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.EmptyRelationExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper, LogicalQueryStage}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Plan-quality regression guards: correctness rows prove WHAT each
  * query computes; these assert HOW — the physical shapes that keep
  * the queries viable at cluster scale (pushdown reaching the scan,
  * top-k without global sorts, no single-partition windows, broadcast
  * joins for small dimensions). A refactor that silently degrades a
  * plan fails here even though every value still matches.
  */
class PlanAuditSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def query(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sfDir)

  /** Final (AQE-resolved) physical plan string after execution: `df`'s
    * own QueryExecution runs (a `noop` write would run a separate one
    * and leave this one's adaptive plan initial). A subtree AQE found
    * empty prints as its logical plan only, so the query stages that
    * ran under it follow, as the physical plans they ran.
    */
  private def executedPlan(df: DataFrame): String = {
    df.queryExecution.toRdd.count()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec =>
        val ranUnderEmpty = collect(a.executedPlan) { case EmptyRelationExec(l) =>
          l.collect { case s: LogicalQueryStage => s.physicalPlan.toString() } }.flatten
        (a.executedPlan.toString() +: ranUnderEmpty).mkString("\n")
      case p => p.toString()
    }
  }

  test("q02: the threshold filter is pushed to the parquet scan") {
    val plan = query("q02_threshold_filter").queryExecution.executedPlan.toString()
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(l_quantity,45.0)"),
      s"threshold not pushed:\n$plan")
  }

  test("q02: the scan reads only the projected columns") {
    val plan = query("q02_threshold_filter").queryExecution.executedPlan.toString()
    val read = "ReadSchema: ([^\\n]*)".r.findFirstMatchIn(plan).map(_.group(1)).getOrElse("")
    assert(!read.contains("l_comment") && !read.contains("l_shipdate"),
      s"scan reads unprojected columns: $read")
  }

  test("q43 pagination: TakeOrderedAndProject, no window, no shuffle") {
    val plan = query("q43_page2").queryExecution.executedPlan.toString()
    assert(plan.contains("TakeOrderedAndProject"), s"no top-k operator:\n$plan")
    assert(!plan.contains("Window"), s"pagination fell back to a window:\n$plan")
    assert(!plan.contains("Exchange"), s"pagination shuffles:\n$plan")
  }

  test("q33 brute top-k: per-partition top-k merge, no global sort") {
    val plan = query("q33_cosine_topk").queryExecution.executedPlan.toString()
    assert(plan.contains("TakeOrderedAndProject"), s"no top-k operator:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"), s"global sort present:\n$plan")
  }

  test("q08 star join: small dimensions broadcast, fact side streams") {
    val plan = executedPlan(query("q08_region_orders"))
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join in star query:\n$plan")
  }

  test("q74 as-of join plans join-free (union + one keyed window)") {
    val plan = query("q74_asof_join").queryExecution.optimizedPlan.toString()
    assert(!plan.contains("Join"), s"as-of query fell back to a join:\n$plan")
  }

  test("q75 range join avoids nested-loop/cartesian plans") {
    val plan = executedPlan(query("q75_range_join"))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"range join planned a quadratic join:\n$plan")
  }

  test("q30 dedup path scans the persisted shingle artifact; the kernel runs in the artifact build") {
    // since the shared-shingle artifact landed, q30's own plan (by
    // design) no longer shingles — it scans the persisted (id, sh)
    // relation. The one-pass kernel must still be the thing that
    // BUILDS that artifact, and neither side may regress to regex
    // shingle construction.
    val plan = executedPlan(query("q30_jaccard_pairs"))
    assert(plan.contains("graft_shingles_"),
      s"q30 no longer reads the persisted shingle artifact:\n${plan.take(2000)}")
    assert(!plan.contains("regexp_extract_all"),
      "jaccard regressed to regex shingle construction")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val build = graft.operators.Dedup.hashedShingleSets(docs, "doc_id", "text", 3)
      .queryExecution.optimizedPlan.toString()
    assert(build.contains("shingle_hash64"),
      s"artifact build no longer uses the one-pass shingle kernel:\n${build.take(2000)}")
    assert(!build.contains("regexp_extract_all"),
      "artifact build regressed to regex shingle construction")
  }

  test("q84 corpus-total join broadcasts the 1-row side, never cartesian") {
    val plan = executedPlan(query("q84_unigram_surprisal"))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"corpus total not broadcast:\n${plan.take(2000)}")
    assert(!plan.contains("CartesianProduct"),
      "corpus-total join planned a cartesian product")
  }

  test("q113 bloom probe broadcasts the word table, never cartesian") {
    val plan = executedPlan(query("q113_bloom_prefilter"))
    assert(plan.contains("BroadcastHashJoin"),
      s"bloom word table not broadcast:\n${plan.take(2000)}")
    assert(!plan.contains("CartesianProduct"),
      "bloom probe planned a cartesian product")
  }

  test("q115 edit join is an equi-join on the length bin, not nested-loop") {
    val plan = executedPlan(query("q115_edit_neardups"))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"edit-distance join planned a quadratic join:\n${plan.take(2000)}")
  }

  test("q180 span dedup: keyed equi-joins only, never nested-loop/cartesian") {
    val plan = executedPlan(query("q180_span_dedup"))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"span dedup planned a quadratic join:\n$plan")
  }

  test("q111 resample fill plans join-free (grid union + keyed window)") {
    // the forward fill is the as-of union encoding; only the grid-span
    // aggregate touches a second relation and that is the same table
    val plan = query("q111_resample").queryExecution.optimizedPlan.toString()
    assert(!plan.contains("Join"), s"resample fill fell back to a join:\n$plan")
  }

  test("q132 sessionize: window and session agg share one hash exchange") {
    // the lag/running-sum window partitions by user; the (user,
    // session_seq) aggregate is a refinement of that clustering, so
    // the plan must REUSE the window's exchange — a second
    // hashpartitioning exchange means the agg re-shuffled ~all events
    val plan = executedPlan(query("q132_sessionize"))
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashExchanges == 1,
      s"sessionize planned $hashExchanges hash exchanges (want 1):\n${plan.take(2000)}")
  }

  test("q133 unpivot: in-task generator, no hash shuffle") {
    // stack() must plan as a Generate over the scan — the only
    // exchange is the deterministic output sort's range partitioning
    val plan = executedPlan(query("q133_unpivot_part"))
    assert(plan.contains("Generate"), s"unpivot lost its generator:\n${plan.take(2000)}")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"unpivot hash-shuffled:\n${plan.take(2000)}")
  }

  test("q119 BFS rounds never plan a cartesian product") {
    // note: 1-row literal SEED joins legitimately plan as
    // BroadcastNestedLoopJoin (Catalyst even rewrites the first
    // expansion into a pushed scan filter) — only a true cartesian
    // over the edge relation is a regression
    val plan = executedPlan(query("q119_bfs_hops"))
    assert(!plan.contains("CartesianProduct"),
      s"BFS planned a cartesian join:\n${plan.take(2000)}")
  }

  test("q137 BM25: query-sized tables broadcast, top-k without a global sort") {
    val plan = executedPlan(query("q137_bm25_topk"))
    assert(plan.contains("BroadcastHashJoin"),
      s"idf/stats table not broadcast:\n${plan.take(2000)}")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k fell back to a sort:\n${plan.take(2000)}")
  }

  test("q140 fuzzy linkage: dimension broadcast, argmax via partial agg (no window)") {
    val plan = executedPlan(query("q140_jaro_linkage"))
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"supplier side not broadcast:\n${plan.take(2000)}")
    assert(!plan.contains("Window"),
      s"argmax fell back to a window shuffle:\n${plan.take(2000)}")
    assert(plan.contains("partial_min") || plan.contains("HashAggregate"),
      s"no partial aggregation before the exchange:\n${plan.take(2000)}")
  }

  test("q152 GraphQL: the root key filter is pushed into the edge-index scan") {
    // the point-lookup contract: each connection filters its edge
    // relation by the root key BEFORE aggregating, and with the
    // persisted KG index that filter must reach the parquet scan —
    // the shape that makes a 100 TB edge relation partition-prunable
    val plan = query("q152_graphql_known_drugs")
      .queryExecution.executedPlan.toString()
    assert(plan.contains("PushedFilters") &&
      plan.contains("EqualTo(disease_id,DIS_BUILDING)"),
      s"root-key filter not pushed into the knownDrugs index scan:\n$plan")
  }

  test("q152 GraphQL: connection results broadcast back onto the root") {
    val plan = executedPlan(query("q152_graphql_known_drugs"))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"),
      s"1-row connection result not broadcast:\n$plan")
  }

  test("q152 GraphQL: paged rows rank-limit BEFORE the array fold (top-k, no full collect)") {
    // the scale guard for hub keys: the rows aggregate reads a
    // TakeOrderedAndProject of (index+1)·size rows, never the whole
    // edge slice — a plan without the top-k would put a crawl-scale
    // connection into one collect_list buffer
    val plan = executedPlan(query("q152_graphql_known_drugs"))
    assert(plan.contains("TakeOrderedAndProject"),
      s"paged GraphQL rows not pre-limited via top-k:\n${plan.take(3000)}")
  }

  test("q152 GraphQL: the disease lookup reads the persisted entity, no c_mktsegment shuffle") {
    val plan = query("q152_graphql_known_drugs").queryExecution.executedPlan
    val shuffles = collect(plan) {
      case e: ShuffleExchangeExec if e.outputPartitioning.toString.contains("c_mktsegment") => e
    }
    assert(shuffles.isEmpty, s"disease rows rebuilt by a shuffle:\n$plan")
  }

  test("q214 GraphQL: scoreThreshold filters BELOW the rank-limited fold, pushed to the scan") {
    // the pushdown the reference client missed: the threshold must cut
    // the edge relation at the SCAN (with the root-key filter), so the
    // TakeOrderedAndProject ranks only surviving rows — filtering the
    // folded array after the collect would pay the full page and keep
    // count wrong
    val plan = query("q214_graphql_score_pushdown")
      .queryExecution.executedPlan.toString()
    // (the PushedFilters/DataFilters lists render truncated at plan
    // print, so the threshold is matched via the Filter node that
    // sits directly on the scan — expression-id agnostic)
    assert(plan.contains("EqualTo(disease_id,DIS_MACHINERY)") &&
      """Filter [^\n]*\(score#\d+ >= 0\.33\)""".r.findFirstIn(plan).isDefined,
      s"scoreThreshold not pushed into the association scan:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"threshold rows not rank-limited via top-k:\n${plan.take(3000)}")
  }

  test("q160 ORC: predicates are pushed into the ORC scan") {
    val plan = query("q160_orc_roundtrip").queryExecution.executedPlan.toString()
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(lang,en)"),
      s"filters not pushed into the ORC scan:\n$plan")
  }

  test("q167 interval overlap: shuffled equi-join, never a nested loop") {
    val plan = executedPlan(query("q167_interval_overlap"))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"interval join fell back to a nested loop:\n$plan")
  }

  test("q169 skyline: window folds only, no join") {
    val plan = query("q169_pareto_skyline").queryExecution.optimizedPlan.toString()
    assert(!plan.contains("Join"), s"skyline planned a join:\n$plan")
  }

  test("q170 profile: one scan of orders feeds the Expand multi-distinct") {
    val plan = executedPlan(query("q170_profile"))
    assert(plan.contains("Expand"), s"multi-distinct not planned via Expand:\n$plan")
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"profile scanned the table $scans times:\n$plan")
  }

  test("q173 basket rules: item supports broadcast, no data-scale cartesian") {
    // sf0.001 yields no rule, so AQE cuts the final stage to an empty
    // relation and only the stages run before the cut would be audited;
    // sf0.01 yields rules, so the whole plan runs
    val sf001 = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.01").getPath
    val df = SparkEntry.queries("q173_basket_rules")(spark, sf001)
    assert(df.count() >= 1, "q173 yields no basket rule: its plan would be cut short")
    val plan = executedPlan(df)
    assert(plan.contains("BroadcastHashJoin"),
      s"item supports not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"data-scale cartesian in basket rules:\n$plan")
  }

  test("wide nested entity (Evidence-width): a 3-field query reads 3 columns + the filter") {
    // the reference schema declares a ~100-field Evidence row
    // (opentargets.schema:505-657) its scripts never read in full; a
    // 100 TB store of such rows is only viable if a narrow query's
    // scan prunes to exactly the referenced leaves — top-level AND
    // inside nested structs. The plan string truncates wide
    // ReadSchemas, so assert on the scan's requiredSchema directly.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.types.StructType
    val dir = java.nio.file.Files.createTempDirectory("graft-wide").toString + "/evidence"
    val filler = (0 until 88).map(i => lit(i.toLong).as(f"f$i%02d"))
    spark.range(0, 100).select(Seq(
      col("id").as("evid_id"),
      (col("id") % 7).cast("double").as("score"),
      struct(concat(lit("TGT_"), col("id")).as("targetId"),
        lit("sym").as("approvedSymbol"),
        lit("protein_coding").as("bioType"),
        lit("x").as("targetFromSourceId")).as("target"),
      struct(concat(lit("DIS_"), col("id")).as("diseaseId"),
        lit("n").as("diseaseName"),
        array(lit("a"), lit("b")).as("ancestors")).as("disease"),
      array(struct(lit("PWY_1").as("id"), lit("p").as("name"))).as("pathways")
    ) ++ filler: _*)
      .write.mode("overwrite").parquet(dir)
    val q = spark.read.parquet(dir)
      .filter(col("score") > 3)
      .select(col("evid_id"), col("target.approvedSymbol"),
        col("disease.diseaseId"))
    q.write.format("noop").mode("overwrite").save()
    val scan = q.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s }.head
    val read = scan.requiredSchema
    // 93 stored top-level fields prune to the 3 selected + the filter
    assert(read.fieldNames.toSet == Set("evid_id", "score", "target", "disease"),
      s"scan reads ${read.fieldNames.length} top-level fields: ${read.fieldNames.mkString(",")}")
    // nested pruning: each struct narrows to its one referenced leaf
    assert(read("target").dataType.asInstanceOf[StructType]
      .fieldNames.toSeq == Seq("approvedSymbol"),
      s"target struct not pruned: ${read("target").dataType.simpleString}")
    assert(read("disease").dataType.asInstanceOf[StructType]
      .fieldNames.toSeq == Seq("diseaseId"),
      s"disease struct not pruned: ${read("disease").dataType.simpleString}")
    // and the row-group filter is pushed into the parquet scan
    assert(scan.metadata.get("PushedFilters").exists(_.contains("GreaterThan(score,3.0)")),
      s"filter not pushed: ${scan.metadata.get("PushedFilters")}")
  }

  test("q182 fuzzy contamination: benchmark side broadcasts off the shared shingle artifact") {
    val plan = executedPlan(query("q182_fuzzy_contamination"))
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark side did not broadcast:\n${plan.take(3000)}")
    assert(plan.contains("graft_shingles_"),
      s"q182 does not read the persisted shingle artifact:\n${plan.take(2000)}")
  }

  test("q184 weighted sample: 1-row totals broadcast; the gate never shuffles the corpus") {
    val plan = executedPlan(query("q184_weighted_sample"))
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"totals row should broadcast over the scan:\n${plan.take(3000)}")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"weighted gate planned a shuffled join:\n${plan.take(3000)}")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashEx == 0,
      s"corpus-side hash shuffle in a pure-gate query ($hashEx):\n${plan.take(3000)}")
  }

  test("q185 cdc chunks: the chunker itself plans with ZERO exchanges") {
    val plan = executedPlan(query("q185_cdc_chunks"))
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    // r17: cdcChunks is one staged projection + explode — chunk rows
    // inherit the scan partitioning, so the ONLY hash exchange left in
    // q185 keys the chunk_md5 first-occurrence window (the old shape
    // exploded per word and paid a doc-id exchange for its prefix-sum
    // window: a word-level shuffle of the corpus)
    assert(hashEx == 1,
      s"expected exactly 1 hash exchange, got $hashEx:\n${plan.take(4000)}")
    // and the per-word boundary pass stays a single projection: no
    // Window over the doc id anywhere in the chunker subtree
    assert(!plan.contains("Window [sum("),
      s"chunker regressed to the windowed shape:\n${plan.take(4000)}")
  }

  test("q187 two-relation PPJoin: equi-joins only, never a nested loop") {
    val plan = executedPlan(query("q187_jaccard_join"))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"cross-corpus jaccard join planned a quadratic join:\n${plan.take(3000)}")
  }

  test("q188 perceptual dedup: banded self-join, never all-pairs") {
    val plan = executedPlan(query("q188_image_phash"))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"image near-dup pairing planned an all-pairs join:\n${plan.take(3000)}")
  }

  test("q197 SQ8 top-k: per-partition top-k merge, no global sort") {
    val plan = query("q197_sq8_topk").queryExecution.executedPlan.toString()
    assert(plan.contains("TakeOrderedAndProject"), s"no top-k operator:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"), s"global sort present:\n$plan")
  }

  test("q36/q88/q198/q211 exact audit sides broadcast the probe batch") {
    // the exact side is bounded-probes × one corpus scan; the probe
    // relation must be the BROADCAST side of the cross join (a
    // corpus-side broadcast or a shuffle cartesian would die at scale)
    for (name <- Seq("q36_knn_join", "q88_cross_knn", "q198_negative_mining",
        "q211_sq8_batch")) {
      val plan = executedPlan(query(name))
      assert(plan.contains("BroadcastNestedLoopJoin"),
        s"$name: probe batch not broadcast:\n${plan.take(2000)}")
      assert(!plan.contains("CartesianProduct"),
        s"$name: shuffle cartesian present:\n${plan.take(2000)}")
    }
  }

  test("q200 dictionary tagging: automaton in the scan stage, no pattern join") {
    // the dictionary must ride the plan as a reference object, never
    // become a join side
    val plan = query("q200_dictionary_tag").queryExecution.optimizedPlan.toString()
    assert(plan.contains("multi_pattern_hits"),
      s"q200 lost the automaton expression:\n$plan")
    assert(!plan.contains("Join"), s"q200 joins the dictionary:\n$plan")
  }

  test("q204 approx band prune: no per-language sort window, sketch aggregate present") {
    // the whole point of the q203→q204 exact/approx split: the approx
    // path must never sort a language's partition (Zipf-skewed at
    // 100 TB — one language can be most of the corpus on one reducer)
    val plan = executedPlan(query("q204_perplexity_prune_approx"))
    assert(!plan.contains("Window"),
      s"q204 regressed to a rank window:\n${plan.take(3000)}")
    assert(plan.contains("percentile_approx"),
      s"q204 lost the sketch aggregate:\n${plan.take(3000)}")
    // the only sort allowed is the final presentation orderBy over the
    // #languages-sized verdict rows — never one under an aggregate
    // (i.e. over corpus-sized input)
    val sortsUnderAgg = "(?s)HashAggregate.*Sort \\[".r
      .findFirstIn(plan)
    assert(sortsUnderAgg.isEmpty,
      s"q204 sorts corpus-sized input below an aggregate:\n${plan.take(3000)}")
  }

  test("q208 filtered search: the float column reaches no scan (codes + pruned metadata only)") {
    val plan = executedPlan(query("q208_sq8_filtered"))
    // two scans feed the semi-join: the code table (codes binary) and
    // the metadata side (vec_id, label) — the float vector column
    // must be pruned out of BOTH ReadSchemas
    val reads = "ReadSchema: ([^\\n]*)".r.findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(reads.nonEmpty)
    assert(reads.forall(!_.contains("embedding")),
      s"q208 reads the float tier: $reads")
  }

  test("q209 redaction: one automaton scan, no join, no window") {
    val plan = query("q209_dictionary_redact").queryExecution.optimizedPlan.toString()
    assert(plan.contains("multi_pattern_redact"),
      s"q209 lost the redaction expression:\n${plan.take(2000)}")
    assert(!plan.contains("Join"), s"q209 joins:\n${plan.take(2000)}")
    assert(!plan.contains("Window"), s"q209 windows:\n${plan.take(2000)}")
  }

  test("q218 binary indexed serve: stage-1 scan is code-only; candidate cut is a top-k merge; rerank joins broadcast") {
    val plan = executedPlan(query("q218_binary_indexed"))
    // the code-table scan must never read the float tier — that is
    // the tier's whole 1/32-bytes claim
    val reads = "ReadSchema: ([^\\n]*)".r.findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(reads.exists(r => r.contains("code") && !r.contains("embedding")),
      s"q218 has no code-only scan: $reads")
    assert(plan.contains("TakeOrderedAndProject"),
      s"q218 candidate cut is not a top-k merge:\n${plan.take(2000)}")
    assert(plan.contains("BroadcastHashJoin"),
      s"q218 rerank join not broadcast:\n${plan.take(2000)}")
    assert(!plan.contains("CartesianProduct"),
      s"q218 plans a cartesian:\n${plan.take(2000)}")
  }

  test("q219 NB inference: class-sized model tables broadcast; no cartesian, no unpartitioned state") {
    val plan = executedPlan(query("q219_nb_langid"))
    // the per-class default-mass and prior tables fan out over the
    // test tokens as BROADCAST sides (class-count-sized); the
    // vocab-sized token-logprob join stays a shuffled equi-join (no
    // broadcast assumption on the vocabulary)
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"q219 class fan-out not broadcast:\n${plan.take(2000)}")
    assert(!plan.contains("CartesianProduct"),
      s"q219 plans a shuffle cartesian:\n${plan.take(2000)}")
  }

  test("q222/q223 privacy audits: one keyed aggregation, no join, no window") {
    for (name <- Seq("q222_k_anonymity", "q223_l_diversity")) {
      val plan = query(name).queryExecution.optimizedPlan.toString()
      assert(!plan.contains("Join"), s"$name joins:\n${plan.take(1500)}")
      assert(!plan.contains("Window"), s"$name windows:\n${plan.take(1500)}")
    }
  }

  test("q226 quantization funnel: both candidate cuts are top-k merges; inter-stage joins broadcast") {
    val plan = executedPlan(query("q226_quant_funnel"))
    assert("TakeOrderedAndProject".r.findAllIn(plan).size >= 2,
      s"q226 lost a top-k candidate cut:\n${plan.take(2500)}")
    assert(plan.contains("BroadcastHashJoin"),
      s"q226 inter-stage join not broadcast:\n${plan.take(2500)}")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("SortMergeJoin"),
      s"q226 shuffles candidates between stages:\n${plan.take(2500)}")
  }

  test("no query plans an unpartitioned window over the full relation") {
    // every Window node in every query plan must carry a partition
    // spec — NO exemptions: the one legitimate parameter-sized
    // global rank (RRF) is now a sorted-array aggregation, so any
    // unpartitioned window anywhere is a regression
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val plan = query(name).queryExecution.optimizedPlan.toString()
      "windowspecdefinition\\(([^)]*)\\)".r.findAllMatchIn(plan).foreach { m =>
        val spec = m.group(1)
        // spec args: partition cols..., order cols..., frame; an empty
        // partition list starts directly with an order-spec direction
        assert(!spec.trim.startsWith("_w") || spec.contains(","),
          s"$name has suspicious window spec: $spec")
        assert(!"^\\s*[a-zA-Z0-9_#]+ (ASC|DESC)".r.findFirstIn(spec).isDefined,
          s"$name: window has no partitionBy: $spec\n$plan")
      }
    }
  }

  test("q255 profiler: ONE scan, ONE Expand — the single-pass multi-distinct plan") {
    val plan = executedPlan(query("q255_profile_table"))
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"profiler scanned the table $scans times:\n$plan")
    val expands = "Expand".r.findAllIn(plan).size
    assert(expands == 1,
      s"expected exactly one Expand (the multi-distinct device), got $expands:\n$plan")
  }

  test("q252 evidences: the ensemblIds batch filter pushes into the index scan") {
    // the REQUIRED id list must reach the association-index parquet
    // scan as an In() pushed filter — the S4 batch-lookup plan, never
    // a post-scan filter over the whole edge relation
    val plan = query("q252_graphql_evidences")
      .queryExecution.executedPlan.toString()
    assert(plan.contains("PushedFilters") && plan.contains("In(target_id"),
      s"ensemblIds not pushed into the index scan:\n$plan")
    assert(plan.contains("EqualTo(disease_id,DIS_MACHINERY"),
      s"root key not pushed into the index scan:\n$plan")
  }
}
