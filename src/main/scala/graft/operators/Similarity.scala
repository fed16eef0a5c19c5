package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructType}

import graft.Sessions.materialized
import graft.functions.VecFns

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two tiers, per the north star:
  *  - `bruteTopK`: exact cosine top-k — one codegen'd scan + a
  *    TakeOrderedAndProject (per-partition top-k, driver merge of k
  *    rows per partition; no global sort). Correctness baseline.
  *  - `annTopK`: random-hyperplane LSH pre-filter — computes a
  *    b-bit signature per vector once, prunes to candidates within a
  *    signature Hamming radius, then exact cosine on survivors. At
  *    cluster scale the signature is a persisted/bucketed column, so
  *    the query scans 8 bytes/row instead of 256 and only computes
  *    full cosine on the candidate fraction.
  *
  * The persisted index tiers (IVF, PQ, SQ8, IVF×SQ8, binary) share one
  * lifecycle. A [[Tier]] names each tier's parts — the code or vector
  * table first, then its sidecars — and [[ensureIndex]] builds a tier
  * only when a part is incomplete. A build freezes parameter-sized
  * state once (centroids, codebooks, scales or thresholds), written
  * and read back through one sidecar codec. Every later batch — an
  * append, a streaming code sink, the curation sink — is coded under
  * that frozen state by the tier's guarded encoder ([[frozenVecs]]:
  * NULL, then width, then the SQ8 clip, each one in-row raise), and
  * lands through the one append path ([[graft.operators.Publish
  * .append]], which adds the id-disjointness guard). Drifted lists of
  * the list-partitioned tiers are retrained by one partial rebuild
  * ([[rebuildLists]]).
  */
object Similarity {

  /** Exact cosine top-k neighbors of `queryVec` (excluding `excludeId`
    * if >= 0). Deterministic order: cosine desc, id asc.
    */
  def bruteTopK(embeddings: DataFrame, idName: String, vecName: String,
                queryVec: Array[Float], k: Int, excludeId: Long = -1L): DataFrame = {
    val q = typedlit(queryVec)
    embeddings
      .filter(col(idName) =!= excludeId)
      .select(col(idName), round(VecFns.cosine(col(vecName), q), 6).as("cosine"))
      .orderBy(col("cosine").desc, col(idName).asc)
      .limit(k)
  }

  /** Exact cosine top-k for EVERY query row against the corpus — the
    * audit exact side behind the KNN-join envelopes ([[knnJoin]] /
    * [[crossKnnJoin]] recall verdicts): |queries| is a deterministic
    * sample or a serving batch, so the cost is one corpus scan with a
    * BROADCAST query table — linear in the corpus, never the
    * corpus-quadratic brute self-join. Deterministic order inside each
    * query's ranking: ROUNDED cosine desc, nn_id asc — ranking on the
    * rounded value is what makes the cut cross-engine-stable (a
    * last-ulp float divergence cannot reorder rows that the tie-break
    * already orders identically).
    */
  def bruteTopKBatch(queries: DataFrame, corpus: DataFrame, idName: String,
                     vecName: String, k: Int): DataFrame = {
    require(k >= 1)
    val qs = queries.select(col(idName).as("query_id"), col(vecName).as("__qv"))
    val c = corpus.select(col(idName).as("nn_id"), col(vecName).as("__cv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("nn_id").asc)
    c.crossJoin(broadcast(qs))
      .filter(col("nn_id") =!= col("query_id"))
      .withColumn("cosine", round(VecFns.cosine(col("__cv"), col("__qv")), 6))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col("query_id"), col("nn_id"), col("cosine"))
  }

  /** ANN top-k via hyperplane-signature pruning + exact re-rank.
    * `probeHamming` widens recall (0 = same bucket only).
    */
  def annTopK(embeddings: DataFrame, idName: String, vecName: String,
              queryVec: Array[Float], k: Int, numBits: Int = 16,
              probeHamming: Int = 4, seed: Long = 42L,
              excludeId: Long = -1L): DataFrame = {
    val q = typedlit(queryVec)
    val qSig = VecFns.hyperplaneSig(q, numBits, seed)
    embeddings
      .filter(col(idName) =!= excludeId)
      .withColumn("__sig", VecFns.hyperplaneSig(col(vecName), numBits, seed))
      .filter(bit_count(col("__sig").bitwiseXOR(qSig)) <= probeHamming)
      .select(col(idName), round(VecFns.cosine(col(vecName), q), 6).as("cosine"))
      .orderBy(col("cosine").desc, col(idName).asc)
      .limit(k)
  }

  /** All-pairs KNN join bucketed by LSH signature band: each vector
    * meets only vectors sharing a signature band, then exact cosine +
    * per-id top-k window. The banding bounds the self-join to
    * near-neighbors instead of n² — the scale path for corpus-level
    * "nearest neighbor per document".
    *
    * Identical VECTORS are contracted to one representative before the
    * band join (the dedup-family discipline): a crawl corpus's clone
    * clusters all but share signatures, so the uncontracted self-join
    * is quadratic in cluster size — the 100× probe never finished it
    * (SCALING.md round 8). Output stays IDENTICAL to the uncontracted
    * form: clones band identically and have pairwise-equal cosines, so
    * a member's true top-k (cosine desc, nn_id asc) is contained in
    * (a) its cluster's k+1 lowest-id co-members — any other clone is
    * outranked by k same-cosine lower ids — and (b) for each rep
    * neighbor, that cluster's k lowest-id members, by the same
    * argument. The expansion materializes exactly those bounded
    * candidates (≈ members × k × (1 + rep-degree) rows, never m²) and
    * the final window re-ranks them with the uncontracted ordering.
    * Clone-pair cosine is computed from the representative's vector
    * (NOT assumed 1.0 — a zero-norm vector's self-cosine is 0).
    * The contraction is ADAPTIVE ([[Dedup.contractBy]]): a clone-free
    * corpus skips the member-expansion machinery entirely.
    */
  def knnJoin(embeddings: DataFrame, idName: String, vecName: String,
              k: Int, numBits: Int = 16, bands: Int = 4, seed: Long = 42L): DataFrame = {
    require(numBits % bands == 0 && k >= 1)
    val w = numBits / bands
    val mask = (1L << w) - 1L
    val all = embeddings.select(col(idName).as("id"), col(vecName).as("v"))
    // adaptive contraction (Dedup.contractBy): membersOpt is None on a
    // clone-free corpus, where the expansion below is skipped entirely
    val (groups, membersOpt) = Dedup.contractBy(all, "id", "v")
    // reps feed five consumers (both band sides, both vector joins,
    // the self-cosine relation) — groups is materialized by contractBy,
    // so each consumer re-reads its cache through this projection
    val reps = groups.select(col("rid").as("id"), col("v"))
    val sigged = reps.select(col("id"), col("v"),
      VecFns.hyperplaneSig(col("v"), numBits, seed).as("sig"))
    // band join + pair-dedup over BARE IDS first — the wide vector
    // payload joins back only after dedup, so the shuffle moves
    // 16-byte pairs instead of 2×64-float rows (the difference
    // between MBs and GBs per million candidates at scale)
    val banded = sigged.select(col("id"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          shiftright(col("sig"), b * w).bitwiseAND(lit(mask)).as("bh"))
      }: _*)).as("b"))
      .select(col("id"), col("b.band"), col("b.bh"))
    val l = banded.as("l"); val r = banded.as("r")
    val vecs = sigged.select(col("id"), col("v"))
    val repPairs = l.join(r, col("l.band") === col("r.band") &&
        col("l.bh") === col("r.bh") && col("l.id") =!= col("r.id"))
      .select(col("l.id").as("id"), col("r.id").as("nn_id"))
      .distinct()
      .join(vecs.select(col("id"), col("v").as("va")), "id")
      .join(vecs.select(col("id").as("nn_id"), col("v").as("vb")), "nn_id")
      .withColumn("cosine", round(VecFns.cosine(col("va"), col("vb")), 6))
      .drop("va", "vb")
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("cosine").desc, col("nn_id").asc)
    membersOpt match {
      case None =>
        // clone-free: reps ARE the rows, repPairs carry both directions
        // (the band join keeps id =!= nn_id, not <), so the per-id
        // window is exactly the uncontracted top-k
        repPairs.withColumn("__rn", row_number().over(win))
          .filter(col("__rn") <= k).drop("__rn")
      case Some(members0) =>
        val members = materialized(members0)
        // the k+1 lowest-id members per cluster — the only clone
        // candidates that can survive the (cosine desc, nn_id asc)
        // window. One keyed window, never a per-cluster array.
        val mw = org.apache.spark.sql.expressions.Window
          .partitionBy(col("rid")).orderBy(col("mid").asc)
        val topMembers = materialized(members
          .withColumn("__mr", row_number().over(mw))
          .filter(col("__mr") <= k + 1))
        // clone-pair cosine = the rep's self-cosine (1.0 after rounding
        // for any non-degenerate vector, 0 for a zero vector — matching
        // what the uncontracted join computed for clone pairs)
        val selfCos = reps
          .select(col("id").as("rid"), round(VecFns.cosine(col("v"), col("v")), 6).as("cosine"))
        val cloneCands = members
          .join(topMembers.select(col("rid"), col("mid").as("nn_mid")), Seq("rid"))
          .filter(col("mid") =!= col("nn_mid"))
          .join(selfCos, Seq("rid"))
          .select(col("mid").as("id"), col("nn_mid").as("nn_id"), col("cosine"))
        // rep pair (A,B): each member of A meets B's k lowest-id
        // members — but every member of A sees the IDENTICAL cross-
        // candidate set (the rep's), so rank once per REP and expand
        // only the surviving top-k. Clone candidates can only push
        // cross candidates DOWN a member's ranking, never up, so a
        // cross candidate outside the rep's top-k can never enter any
        // member's top-k. This is the difference between windowing
        // |members|·k·degree rows and |repPairs|·k + |members|·k —
        // the 100× probe measured 74 M vs 1.4 M candidates (the
        // expansion, not the band join, was the 100× wall-clock).
        val crossAtB = repPairs
          .join(topMembers.filter(col("__mr") <= k)
            .select(col("rid").as("nn_id"), col("mid").as("mb")), Seq("nn_id"))
          .select(col("id"), col("mb").as("nn_id"), col("cosine"))
        // prune to k+1 (not k): contractBy clusters partition ids, so
        // a member can never collide with a cross candidate — but the
        // id =!= nn_id self-exclusion below must not be able to eat a
        // needed candidate even if that invariant ever loosened, and
        // a k+1-th superset candidate can never change the final
        // top-k window
        val crossTop = crossAtB
          .withColumn("__rn", row_number().over(win))
          .filter(col("__rn") <= k + 1).drop("__rn")
        val crossCands = crossTop
          .join(members.select(col("rid").as("id"), col("mid").as("ma")), Seq("id"))
          .select(col("ma").as("id"), col("nn_id"), col("cosine"))
          .filter(col("id") =!= col("nn_id"))
        cloneCands.unionByName(crossCands)
          .withColumn("__rn", row_number().over(win))
          .filter(col("__rn") <= k).drop("__rn")
    }
  }

  /** Batch retrieval: for every QUERY vector, the top-k nearest
    * CORPUS vectors — the two-relation form of [[knnJoin]] (serve a
    * batch of search/dedup probes against a fixed index without a
    * corpus self-join). Both sides band on the same deterministic
    * hyperplane signatures, so the join only meets query/corpus rows
    * sharing a band; pairs dedup over bare ids before the vector
    * payload joins back (same shuffle-volume discipline as knnJoin).
    */
  def crossKnnJoin(queries: DataFrame, corpus: DataFrame, idName: String,
                   vecName: String, k: Int, numBits: Int = 16,
                   bands: Int = 4, seed: Long = 42L): DataFrame = {
    require(numBits % bands == 0 && k >= 1)
    val w = numBits / bands
    val mask = (1L << w) - 1L
    // contract identical vectors on BOTH sides ([[knnJoin]]'s clone
    // discipline, without the self-pair machinery — the sides are
    // distinct relations): a query member's candidates equal its
    // rep's, and only each corpus cluster's k lowest-id members can
    // survive the (cosine desc, nn_id asc) window. Adaptive per side
    // (Dedup.contractBy): a clone-free side skips its expansion join.
    def contract(df: DataFrame): (DataFrame, Option[DataFrame]) = {
      val rows = df.select(col(idName).as("id"), col(vecName).as("v"))
      val (groups, members) = Dedup.contractBy(rows, "id", "v")
      (groups.select(col("rid").as("id"), col("v")), members.map(materialized))
    }
    val (qReps, qMembers) = contract(queries)
    val (cReps, cMembers) = contract(corpus)
    def sigged(df: DataFrame) = df.select(
      col("id"), col("v"),
      VecFns.hyperplaneSig(col("v"), numBits, seed).as("sig"))
    def banded(df: DataFrame) = sigged(df).select(col("id"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          shiftright(col("sig"), b * w).bitwiseAND(lit(mask)).as("bh"))
      }: _*)).as("b"))
      .select(col("id"), col("b.band"), col("b.bh"))
    val repPairs = banded(qReps).as("l")
      .join(banded(cReps).as("r"),
        col("l.band") === col("r.band") && col("l.bh") === col("r.bh"))
      .select(col("l.id").as("query_id"), col("r.id").as("nn_id"))
      .distinct()
      .join(sigged(qReps).select(col("id").as("query_id"), col("v").as("va")),
        "query_id")
      .join(sigged(cReps).select(col("id").as("nn_id"), col("v").as("vb")),
        "nn_id")
      .withColumn("cosine", round(VecFns.cosine(col("va"), col("vb")), 6))
      .drop("va", "vb")
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cosine").desc, col("nn_id").asc)
    // corpus-side expansion first (member-level nn ids), then rank
    // per query REP, then query-side expansion: every member of a
    // query rep sees the IDENTICAL candidate set, so only the rep's
    // top-k needs to fan out to members — |repPairs|·k + |qMembers|·k
    // candidate rows instead of |qMembers|·k·degree (the knnJoin
    // expansion lesson, measured on the 100× probe)
    val cCands = cMembers match {
      case None => repPairs
      case Some(cm) =>
        val cw = org.apache.spark.sql.expressions.Window
          .partitionBy(col("rid")).orderBy(col("mid").asc)
        val topC = materialized(cm
          .withColumn("__mr", row_number().over(cw)).filter(col("__mr") <= k))
        repPairs
          .join(topC.select(col("rid").as("nn_id"), col("mid").as("cm")),
            Seq("nn_id"))
          .select(col("query_id"), col("cm").as("nn_id"), col("cosine"))
    }
    def topK(df: DataFrame) = df
      .withColumn("__rn", row_number().over(win))
      .filter(col("__rn") <= k).drop("__rn")
    qMembers match {
      case None => topK(cCands)
      case Some(qm) => topK(topK(cCands)
        .join(qm.select(col("rid").as("query_id"), col("mid").as("qm")),
          Seq("query_id"))
        .select(col("qm").as("query_id"), col("nn_id"), col("cosine")))
    }
  }

  // ================= persisted index lifecycle =================

  /** One persisted index tier: its family name (the `append<name>Index`,
    * `ensure<name>Index` and `rebuild<name>Lists` its messages name) and
    * the parts every complete generation holds — the code or vector
    * table first, in the order its build writes them.
    */
  private[graft] final case class Tier(name: String, parts: String*) {
    def at(path: String): Seq[String] = parts.map(d => s"$path/$d")
    def complete(path: String): Boolean = at(path).forall(Artifact.complete)
  }

  private[graft] val IvfTier = Tier("Ivf", "vectors", "centroids", "stats")
  private[graft] val PqTier = Tier("Pq", "codes", "codebooks", "stats")
  private[graft] val Sq8Tier = Tier("Sq8", "codes", "scales")
  private[graft] val IvfSq8Tier = Tier("IvfSq8", "codes", "centroids", "scales")
  private[graft] val BinaryTier = Tier("Binary", "codes", "thresholds")

  /** Build `tier`'s index at `path` only if a part is incomplete (a
    * pre-baseline generation reads as incomplete and is rebuilt). All
    * parts publish together: `build` writes under a staged root that
    * swaps in whole ([[Artifact.ensure]]), so a reader never sees a
    * table without its sidecars.
    */
  private[graft] def ensureIndex(path: String, tier: Tier)(build: String => Unit): Unit =
    Artifact.ensure(path, tier.complete)(build)

  /** Parameter-sized driver state as a relation: `ddl`'s columns. */
  private def stateFrame(spark: SparkSession, ddl: String, rows: Seq[Row]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, StructType.fromDDL(ddl))
  }

  /** A sidecar — frozen state as `ddl` rows, one file — written into
    * the (staged) directory `dir`.
    */
  private def writeSidecar(spark: SparkSession, dir: String, ddl: String,
                           rows: Seq[Row]): Unit =
    stateFrame(spark, ddl, rows).coalesce(1).write.parquet(dir)

  /** A sidecar's rows, ordered by its leading INT key columns. */
  private def readSidecar(spark: SparkSession, dir: String): Array[Row] = {
    val df = spark.read.parquet(dir)
    val keys = df.schema.indices.takeWhile(df.schema(_).dataType == IntegerType)
    df.collect().sortBy(r => keys.map(r.getInt))(Ordering.Implicits.seqOrdering)
  }

  /** The per-dimension `(dim INT, <value> DOUBLE)` sidecar (SQ8 scales,
    * binary thresholds).
    */
  private def writeDims(spark: SparkSession, dir: String, value: String,
                        xs: Array[Double]): Unit =
    writeSidecar(spark, dir, s"dim INT, $value DOUBLE",
      xs.toSeq.zipWithIndex.map { case (x, d) => Row(d, x) })

  private def readDims(spark: SparkSession, dir: String): Array[Double] =
    readSidecar(spark, dir).map(_.getDouble(1))

  private def centroidRows(cents: Seq[Array[Float]]): Seq[Row] =
    cents.zipWithIndex.map { case (c, i) => Row(i, c.toSeq) }

  /** The centroid sidecar, written into the (staged) directory `dir`. */
  private def writeCentroids(spark: SparkSession, cents: Seq[Array[Float]],
                             dir: String): Unit =
    writeSidecar(spark, dir, "cid INT, centroid ARRAY<FLOAT>", centroidRows(cents))

  private[graft] def readCentroids(spark: SparkSession,
                                   indexPath: String): Seq[Array[Float]] =
    readSidecar(spark, s"$indexPath/centroids").map(_.getSeq[Float](1).toArray).toSeq

  /** In-row guard for the nearest-cell writes: a NULL vector has no
    * nearest cell (the fused kernels return NULL, which would land in
    * a default partition or a NULL code row).
    */
  private def nonNullVecs(df: DataFrame, vecName: String, who: String): DataFrame =
    guardVecs(df, vecName, who, Nil)

  /** `df` as a tier's encoder under frozen state coding `n` dimensions
    * may read it — the guarded half of every encoder that codes a batch
    * after the build. In this order, each an in-row [[Publish]] raise:
    * a NULL vector ([[nonNullVecs]]); a vector of any other width
    * (zip_with and slice would quietly pad or truncate it); and, given
    * the SQ8 `scales`, a coordinate whose |x| exceeds its frozen scale
    * (its code would clip outside int8 and corrupt every ranking
    * involving it — rebuild over the union when it trips). The
    * branches are tried in order, so the clip test only sees vectors of
    * exactly `n` dimensions. A build codes the corpus its state came
    * from: [[buildSq8Index]] passes no `scales` (nothing can clip);
    * the other builds keep their own guards.
    */
  private[graft] def frozenVecs(df: DataFrame, vecName: String, n: Int, who: String,
                                scales: Option[Array[Double]] = None): DataFrame = {
    val v = col(vecName)
    val clip = scales.toSeq.map { sc =>
      val scLit = typedlit(sc.toSeq)
      // (dim, |x|) of every coordinate beyond its scale
      val viol = filter(transform(v.cast("array<double>"),
          (x, i) => struct(i.cast("int").as("d"), abs(x).as("m"))),
        p => p.getField("m") > element_at(scLit, p.getField("d") + 1))
      val first = element_at(viol, 1)
      (size(viol) > 0) -> format_string(s"$who: a vector's |x_%d| = %.6g exceeds " +
          "the frozen scale %.6g — codes would clip; rebuild the index over the " +
          "union instead", first.getField("d"), first.getField("m"),
        element_at(scLit, first.getField("d") + 1))
    }
    guardVecs(df, vecName, who, ((size(v) =!= n) -> format_string(s"$who: a " +
      s"vector has dimension %d but the index codes $n — not the same embedding space",
      size(v))) +: clip)
  }

  /** `df` with `vecName` raising `who`'s NULL text, then each guard's
    * text where its condition holds.
    */
  private def guardVecs(df: DataFrame, vecName: String, who: String,
                        guards: Seq[(Column, Column)]): DataFrame = {
    val v = col(vecName)
    val nul = when(v.isNull, Publish.raise(lit(
      s"$who: a NULL $vecName has no nearest cell — drop or embed it first")))
    df.withColumn(vecName, guards.foldLeft(nul) { case (w, (bad, text)) =>
      w.when(bad, Publish.raise(text))
    }.otherwise(v))
  }

  /** Append `batch` to `tier`'s table at `indexPath` (partitioned by
    * `partitionBy`): `encode` codes it under the frozen state, given the
    * guard prefix, and [[Publish.append]] adds the id guard.
    */
  private def appendIndex(indexPath: String, tier: Tier, batch: DataFrame,
                          idName: String, partitionBy: String*)
                         (encode: String => DataFrame): Unit = {
    val who = s"append${tier.name}Index"
    Publish.append(encode(who), batch, tier.at(indexPath).head, idName, who,
      partitionBy: _*)
  }

  /** Partial rebuild of the flagged lists of a list-partitioned tier
    * (its table partitioned by `__cid`; [[rebuildIvfLists]],
    * [[rebuildIvfSq8Lists]]). The flagged lists' members are read back
    * (directory-pruned) as (`idName`, `payload`, `geometry` — the
    * vector the quantizer retrains on, an expression over the table's
    * rows, evaluated after the argument checks) and a fresh
    * deterministic quantizer is trained over just them: farthest-point
    * seeds plus one Lloyd step. The flagged cid slots are reused and
    * surplus slots (`splitTo`, capped at [[RebuildSlotCap]]) get new
    * cids past the current nlist. Each member re-assigns to its nearest
    * retrained slot — never into an untouched list — so the write is a
    * directory-scoped dynamic partition overwrite; untouched list files
    * stay byte-identical, and an emptied flagged slot's directory is
    * deleted. Last, the centroid sidecar swaps the retrained slots in.
    * Returns (slot cids, updated centroids).
    */
  private def rebuildLists(spark: SparkSession, indexPath: String, tier: Tier,
                           idName: String, cids: Seq[Int], splitTo: Option[Int],
                           payload: String, geometry: => Column)
      : (Seq[Int], Seq[Array[Float]]) = {
    val who = s"rebuild${tier.name}Lists"
    val remedy = s"ensure${tier.name}Index over the union"
    require(cids.nonEmpty, s"$who: no lists to rebuild")
    require(cids.distinct.size == cids.size,
      s"$who: duplicate cids in ${cids.mkString(",")}")
    val cents = readCentroids(spark, indexPath)
    val unknown = cids.filterNot(c => c >= 0 && c < cents.size)
    require(unknown.isEmpty,
      s"$who: unknown cid(s) ${unknown.mkString(",")} (nlist=${cents.size})")
    val table = tier.at(indexPath).head
    val members = spark.read.parquet(table)
      .filter(col("__cid").isin(cids: _*))
      .select(col(idName), col(payload), geometry.as("__vec"))
    val memberCount = members.count()
    require(memberCount > 0, s"$who: the flagged lists hold no members")
    // default: the flagged slots are retrained in place (same nlist —
    // probing geometry unchanged, so recall at fixed nprobe is
    // comparable to a full rebuild). `splitTo` grows the slot count
    // for occupancy control when the drifted mass outgrew its lists;
    // the caller then owns the nprobe/nlist trade.
    // reject BEFORE any mutation: fewer members than flagged lists
    // cannot fill the reused cid slots (slotCids would outrun the
    // retrained centroids and abort mid-rewrite with stale sidecars)
    require(memberCount >= cids.size,
      s"$who: the ${cids.size} flagged lists hold only $memberCount member(s) " +
        s"— rebuild the index instead ($remedy)")
    val slots = math.min(memberCount, splitTo.getOrElse(cids.size).toLong).toInt
    require(slots >= cids.size,
      s"$who: splitTo=$slots below the flagged count ${cids.size}")
    // loud cap: farthestSeeds runs slots−1 sequential driver-coordinated
    // scans over the members relation — right-sized for a partial
    // rebuild's sliver, a 200-job loop for a mass drift. Past the cap
    // the caller is rebuilding most of the index anyway.
    require(slots <= RebuildSlotCap,
      s"$who: $slots retrained slots exceeds the cap of $RebuildSlotCap — a " +
        s"drift this wide is a full rebuild, not a partial one ($remedy)")
    // farthest-point seeding, NOT lowest-id: a drifted list mixes an
    // old mode with a new one, and every low id predates the drift —
    // lowest-id seeds would all land in the old mode and the retrain
    // would mis-center exactly the mass it exists to fix
    val newCents = lloydStep(members, idName, "__vec",
      farthestSeeds(members, idName, "__vec", slots))
    // slot -> cid: reuse the flagged slots first, then fresh cids
    // past the current nlist for the surplus
    val slotCids: Seq[Int] =
      cids ++ (cents.size until cents.size + (slots - cids.size))
    // re-assign among the retrained slots ONLY: the overwrite below
    // replaces partitions present in the written data — a member
    // routed into an unflagged list would clobber that whole list
    val landed = rewriteLists(members.select(col(idName), col(payload),
      element_at(typedlit(slotCids), nearestCid(col("__vec"), newCents) + 1)
        .as("__cid")), table)
    dropStaleListDirs(spark, table, cids.filterNot(landed))
    val cidToSlot = slotCids.zipWithIndex.toMap
    val updCents = cents.zipWithIndex.map { case (c, i) =>
      cidToSlot.get(i).map(newCents).getOrElse(c)
    } ++ newCents.drop(cids.size)
    Publish.dir(spark, s"$indexPath/centroids")(writeCentroids(spark, updCents, _))
    (slotCids, updCents)
  }

  /** IVF-style ANN: a coarse quantizer (nlist centroids trained with
    * one distributed Lloyd iteration from deterministic seeds), each
    * vector assigned to its nearest centroid at build time; a query
    * probes the `nprobe` nearest centroids and re-ranks exactly
    * inside them. At cluster scale the assignment is a persisted
    * partition/bucket column, so a query scans nprobe/nlist of the
    * corpus. Centroids are parameter-sized (nlist × dim) — the only
    * driver-side state, by design.
    */
  private def nearestCid(v: Column, cents: Seq[Array[Float]]): Column =
    // fused kernel — one expression, not nlist inlined cosines in an
    // array_max of structs (VecFns.nearestCid pins the bit-identical
    // tie/NaN semantics; SimilaritySpec compares against the
    // expression form)
    VecFns.nearestCid(v, cents)

  private def cosLocal(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < math.min(a.length, b.length)) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    val d = math.sqrt(na) * math.sqrt(nb); if (d == 0) 0 else dot / d
  }

  /** Train the coarse quantizer: deterministic seeds (lowest ids,
    * parameter-sized collect) + one distributed Lloyd iteration.
    * Returns nlist centroid vectors ordered by cid.
    */
  private def trainCentroids(embeddings: DataFrame, idName: String,
                             vecName: String, nlist: Int): Seq[Array[Float]] = {
    val seeds: Seq[Array[Float]] = embeddings.orderBy(col(idName))
      .limit(nlist).select(vecName)
      .collect().map(_.getSeq[Float](0).toArray).toSeq
    lloydStep(embeddings, idName, vecName, seeds)
  }

  /** Deterministic farthest-point seeds: lowest id first, then k−1
    * passes each picking the member with the SMALLEST max-cosine to
    * the seeds so far (ties → lowest id). One scan per seed — fine
    * for the rebuild path's small k, and unlike lowest-id seeding it
    * cannot put every seed inside one data mode (the failure that
    * made a drifted list's retrain mis-center: all low ids predate
    * the drift).
    */
  private def farthestSeeds(embeddings: DataFrame, idName: String,
                            vecName: String, k: Int): Seq[Array[Float]] = {
    var seeds = List(embeddings.orderBy(col(idName)).limit(1)
      .select(vecName).head().getSeq[Float](0).toArray)
    while (seeds.size < k) {
      val sims = seeds.map(s => VecFns.cosine(col(vecName), typedlit(s)))
      val mx = if (sims.size == 1) sims.head else greatest(sims: _*)
      val next = embeddings
        .select(col(vecName), mx.as("__mx"), col(idName).as("__id"))
        .orderBy(col("__mx").asc, col("__id").asc).limit(1)
        .select(vecName).head().getSeq[Float](0).toArray
      seeds = seeds :+ next
    }
    seeds
  }

  /** One distributed Lloyd iteration from the given seeds. */
  private def lloydStep(embeddings: DataFrame, idName: String,
                        vecName: String,
                        seeds: Seq[Array[Float]]): Seq[Array[Float]] = {
    val nlist = seeds.size
    val assigned = embeddings.withColumn("__cid", nearestCid(col(vecName), seeds))
    val centroids: Seq[Array[Float]] = assigned
      .select(col("__cid"), posexplode(col(vecName)).as(Seq("d", "x")))
      .groupBy("__cid", "d").agg(avg("x").as("m"))
      .groupBy("__cid").agg(map_from_arrays(
        collect_list(col("d")), collect_list(col("m"))).as("mm"))
      .collect()
      .sortBy(_.getInt(0))
      .map { r =>
        val mm = r.getMap[Int, Double](1)
        Array.tabulate(mm.size)(i => mm(i).toFloat)
      }.toSeq
    if (centroids.size == nlist) centroids else seeds
  }

  private def probeList(cents: Seq[Array[Float]], queryVec: Array[Float],
                        nprobe: Int): Seq[Int] =
    cents.zipWithIndex
      .sortBy { case (c, i) => (-cosLocal(c, queryVec), i) }
      .take(nprobe).map(_._2)

  def ivfTopK(embeddings: DataFrame, idName: String, vecName: String,
              queryVec: Array[Float], k: Int, nlist: Int = 16,
              nprobe: Int = 4, excludeId: Long = -1L): DataFrame = {
    require(nprobe >= 1 && nprobe <= nlist)
    val cents = trainCentroids(embeddings, idName, vecName, nlist)
    val probes = probeList(cents, queryVec, nprobe)
    val q = typedlit(queryVec)
    embeddings
      .filter(col(idName) =!= excludeId)
      .withColumn("__cid", nearestCid(col(vecName), cents))
      .filter(col("__cid").isin(probes: _*))
      .select(col(idName), round(VecFns.cosine(col(vecName), q), 6).as("cosine"))
      .orderBy(col("cosine").desc, col(idName).asc)
      .limit(k)
  }

  /** Build-time half of the production IVF path: train the quantizer,
    * assign every vector its nearest centroid, and WRITE the corpus
    * partitioned by that assignment (`indexPath/vectors/__cid=N/`),
    * plus the nlist centroid vectors (`indexPath/centroids`). A query
    * then scans only the probed partitions — nprobe/nlist of the
    * corpus — instead of recomputing the assignment per query. The
    * directory layout IS the inverted file; at cluster scale this is
    * a one-off job whose cost amortizes over every subsequent query.
    */
  def buildIvfIndex(embeddings: DataFrame, idName: String, vecName: String,
                    nlist: Int, indexPath: String): Unit = {
    val spark = embeddings.sparkSession
    Publish.dirs(spark, IvfTier.at(indexPath)) { case Seq(vectors, centroids, stats) =>
      val emb = nonNullVecs(embeddings, vecName, "buildIvfIndex")
      val cents = trainCentroids(emb, idName, vecName, nlist)
      emb.withColumn("__cid", nearestCid(col(vecName), cents))
        .write.partitionBy("__cid").parquet(vectors)
      writeCentroids(spark, cents, centroids)
      // build-time per-list baseline (occupancy + mean residual): the
      // reference point [[ivfDriftReport]] measures append drift
      // against. Computed from the WRITTEN (staged) vectors table —
      // the assignment pass is not repeated — list-count-sized.
      listStats(Publish.readTable(spark, vectors), cents, vecName)
        .withColumnRenamed("n", "n_build")
        .withColumnRenamed("resid_e6", "resid_build_e6")
        .coalesce(1).write.parquet(stats)
    }
  }

  /** Build the IVF index only if it is not already on disk (vectors
    * table, centroids sidecar, and the build-time drift baseline).
    */
  def ensureIvfIndex(embeddings: DataFrame, idName: String, vecName: String,
                     nlist: Int, indexPath: String): Unit =
    ensureIndex(indexPath, IvfTier)(buildIvfIndex(embeddings, idName, vecName, nlist, _))

  /** Per-list (cid, n, mean residual ×1e6) over an assigned vectors
    * relation: one broadcast join against the list-count-sized
    * centroid set + one keyed agg. Residual = 1 − cosine(member, own
    * centroid), held as fixed-point e6 longs (round half-away-from-
    * zero) so downstream comparisons are engine-exact.
    */
  private def listStats(vectors: DataFrame, cents: Seq[Array[Float]],
                        vecName: String): DataFrame = {
    val centDf = stateFrame(vectors.sparkSession, "cid INT, __cent ARRAY<FLOAT>",
      centroidRows(cents))
    vectors.join(broadcast(centDf), col("__cid") === col("cid"))
      .select(col("cid"), (lit(1000000L) -
        round(VecFns.cosine(col(vecName), col("__cent")) * 1e6, 0)
          .cast("long")).as("__r"))
      .groupBy("cid")
      .agg(count(lit(1)).as("n"), sum(col("__r")).as("__sr"))
      .select(col("cid"), col("n"),
        round(col("__sr").cast("double") / col("n"), 0)
          .cast("long").as("resid_e6"))
  }

  /** Centroid-drift report for a frozen-centroid IVF index — the
    * rebuild trigger [[appendIvfIndex]]'s scaladoc promises: per-list
    * occupancy and mean residual NOW vs the build-time baseline the
    * index carries (`stats` sidecar). One scan of the vectors table
    * (the same agg shape as the build pass) joined against two
    * list-count-sized sidecars; output is list-count-sized.
    *
    * A list is `drifted` when appends have degraded it on either
    * axis:
    *  - residual: its mean member-to-own-centroid residual rose more
    *    than `residDeltaE6` (×1e-6 cosine) above the baseline — the
    *    frozen centroid no longer represents its members, so the
    *    query-to-centroid ordering that picks probe lists mis-ranks
    *    it (recall loss; the SCALING.md drift probe measures the
    *    degradation and justifies the 0.1-cosine default);
    *  - occupancy: it grew past `occupancyGrowth`× its build size
    *    (or was empty at build) — probing it costs proportionally
    *    more than the build-time cost model assumed, and a new data
    *    mode is crowding into a centroid that never represented it.
    *
    * Rebuild (ensureIvfIndex over the union) when lists flag; the
    * IVF-SQ8 tier reuses this by decoding codes (code·scale/127) to
    * residual space. Fixed-point e6 arithmetic throughout — the
    * report replays exactly in SQL given the same centroid set.
    */
  def ivfDriftReport(spark: org.apache.spark.sql.SparkSession,
                     indexPath: String, vecName: String,
                     residDeltaE6: Long = 100000L,
                     occupancyGrowth: Double = 4.0): DataFrame = {
    val cents = readCentroids(spark, indexPath)
    val now = listStats(spark.read.parquet(s"$indexPath/vectors"),
        cents, vecName)
      .withColumnRenamed("n", "n_now")
      .withColumnRenamed("resid_e6", "resid_now_e6")
    val build = spark.read.parquet(s"$indexPath/stats")
    now.join(broadcast(build), Seq("cid"), "left")
      .select(col("cid").cast("long").as("cid"),
        coalesce(col("n_build"), lit(0L)).as("n_build"),
        col("n_now"), col("resid_build_e6"), col("resid_now_e6"),
        (col("resid_now_e6") - coalesce(col("resid_build_e6"),
          col("resid_now_e6"))).as("resid_delta_e6"))
      .withColumn("drifted",
        col("n_build") === 0L ||
          col("resid_delta_e6") > residDeltaE6 ||
          col("n_now").cast("double") >
            col("n_build").cast("double") * occupancyGrowth)
      .orderBy("cid")
  }

  /** Append a new batch to an existing IVF index WITHOUT retraining
    * or rewriting: each new vector is assigned to its nearest
    * EXISTING centroid (the parameter-sized sidecar, read once) and
    * its rows land as new files inside the matching list partitions —
    * the maintenance path of a continuously-fed vector store, where
    * rebuilding a 100 TB inverted file per ingest batch is not an
    * option. The centroid sidecar is untouched, directory pruning
    * sees the new files transparently, and because assignment is a
    * pure function of (vector, centroids), the appended index is
    * BIT-IDENTICAL to one built from scratch over the union with the
    * same centroids (spec-pinned) — queries differ from pre-append
    * only by the new vectors. Centroid drift is the operator's
    * documented debt: after enough appends the lists no longer
    * reflect the data distribution and recall degrades — re-train by
    * rebuilding (ensureIvfIndex on the union) when probe recall
    * drops. A NULL vector, one of another width, and an id already
    * indexed are rejected by in-row [[Publish]] guards before the
    * append commits.
    */
  def appendIvfIndex(spark: org.apache.spark.sql.SparkSession,
                     indexPath: String, newEmbeddings: DataFrame,
                     idName: String, vecName: String): Unit = {
    val cents = readCentroids(spark, indexPath)
    appendIndex(indexPath, IvfTier, newEmbeddings, idName, "__cid") { who =>
      frozenVecs(newEmbeddings.select(col(idName), col(vecName)), vecName,
          cents.head.length, who)
        .withColumn("__cid", nearestCid(col(vecName), cents))
    }
  }

  /** Partial rebuild of DRIFTED lists — the remedy [[ivfDriftReport]]
    * points at, without paying a full re-train + full-table rewrite
    * (at 100 TB a handful of flagged lists is a sliver of the
    * inverted file): [[rebuildLists]] over the flagged lists' float
    * members. The drifted mass usually OUTGREW its lists (that is what
    * the occupancy flag means), so `splitTo` can re-cluster the members
    * into more slots to restore the index's average list occupancy.
    * Untouched list files stay byte-identical (spec-pinned). The stats
    * sidecar RE-BASELINES only the rebuilt rows, so a subsequent
    * [[ivfDriftReport]] measures drift against the rebuilt state.
    * Probe-side recall/serve-cost recovery vs a full rebuild is
    * measured in ProbeMaintain (SCALING.md). The list rewrite and each
    * sidecar publish atomically one after another; a crash between
    * them leaves the sidecars one rebuild behind the lists.
    */
  def rebuildIvfLists(spark: org.apache.spark.sql.SparkSession,
                      indexPath: String, idName: String, vecName: String,
                      cids: Seq[Int], splitTo: Option[Int] = None): Unit = {
    val (slotCids, cents) = rebuildLists(spark, indexPath, IvfTier, idName, cids,
      splitTo, vecName, col(vecName))
    val fresh = listStats(
        spark.read.parquet(s"$indexPath/vectors").filter(col("__cid").isin(slotCids: _*)),
        cents, vecName)
      .withColumnRenamed("n", "n_build")
      .withColumnRenamed("resid_e6", "resid_build_e6")
    val kept = spark.read.parquet(s"$indexPath/stats")
      .filter(!col("cid").isin(cids: _*))
    Publish.parquet(kept.unionByName(fresh).coalesce(1), s"$indexPath/stats")
  }

  /** Dynamic-overwrite the `__cid` lists present in `reassigned` (it
    * may read the very lists it replaces: Spark stages the written
    * partitions and swaps them at commit) and return the cids that
    * landed, observed on the write job itself.
    */
  private def rewriteLists(reassigned: DataFrame, table: String): Set[Int] = {
    val obs = org.apache.spark.sql.Observation()
    Publish.partitions(
      reassigned.observe(obs, collect_set(col("__cid")).as("cids")), table, "__cid")
    obs.get("cids").asInstanceOf[scala.collection.Seq[Int]].toSet
  }

  /** Remove list directories a partial rebuild left stale (a
    * retrained slot that captured no members is absent from the
    * written data, so dynamic overwrite leaves its old directory —
    * and the serve path would keep reading the reassigned members out
    * of it). Hadoop-FS delete, NOT java.io.File: on a remote table
    * path (hdfs://, s3a://) a local-file delete silently no-ops —
    * wrong results, quietly, exactly at scale. The returned boolean
    * is REQUIRED (the StreamOps/Artifact discipline): a failed delete
    * must abort, not linger.
    */
  private def dropStaleListDirs(spark: org.apache.spark.sql.SparkSession,
                                tablePath: String, stale: Seq[Int]): Unit = {
    val hconf = spark.sessionState.newHadoopConf()
    stale.foreach { c =>
      val p = new org.apache.hadoop.fs.Path(s"$tablePath/__cid=$c")
      val fs = p.getFileSystem(hconf)
      if (fs.exists(p))
        require(fs.delete(p, true),
          s"could not remove stale list directory $p — aborting so the " +
            "serve path never reads reassigned members")
    }
  }

  /** Query-time half: read the centroid sidecar (parameter-sized
    * collect), pick the nprobe nearest lists driver-side, and scan
    * ONLY those partitions of the vectors table — the `__cid isin`
    * filter is directory-level partition pruning, so the scan touches
    * nprobe/nlist of the data. Same output as `ivfTopK` with the same
    * parameters.
    */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession, indexPath: String,
                     idName: String, vecName: String, queryVec: Array[Float],
                     k: Int, nprobe: Int = 4, excludeId: Long = -1L): DataFrame = {
    val cents = readCentroids(spark, indexPath)
    require(nprobe >= 1 && nprobe <= cents.size)
    val probes = probeList(cents, queryVec, nprobe)
    val q = typedlit(queryVec)
    spark.read.parquet(s"$indexPath/vectors")
      .filter(col("__cid").isin(probes: _*))
      .filter(col(idName) =!= excludeId)
      .select(col(idName), round(VecFns.cosine(col(vecName), q), 6).as("cosine"))
      .orderBy(col("cosine").desc, col(idName).asc)
      .limit(k)
  }

  // ------------------------------------------------------------------
  // Product quantization (PQ): compress each vector to `numSub` byte-
  // sized codes (one per subspace) against per-subspace codebooks, and
  // answer queries by asymmetric distance (ADC): the query precomputes
  // a numSub × k distance table driver-side, and scanning the corpus
  // reads ONLY the code table — 8 ints/row instead of 64 floats — then
  // exactly re-ranks the top candidates from the full vectors. This is
  // the canonical 100 TB vector-search layout (what IVF-PQ engines
  // store): the scan-side win is the compressed footprint, the
  // codebooks and ADC tables are parameter-sized driver state, and
  // nothing else leaves the executors.
  //
  // All distances use the expansion ‖c‖² − 2·x·c (rank-equivalent to
  // L2 for a fixed x), so every argmin runs on the native codegen'd
  // dot kernel; ties break on the code/id ascending, making training,
  // encoding, and search deterministic on any partitioning.
  // ------------------------------------------------------------------

  private def sqNorm(c: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < c.length) { s += c(i).toDouble * c(i); i += 1 }
    s
  }

  /** argmin over `cents` of ‖c‖² − 2·v·c (ties → lowest code) — the
    * fused kernel form (VecFns.nearestCodeL2): one expression instead
    * of k inlined dot kernels; bit-identical distances and tie rule
    * (SimilaritySpec pins it against the array_min struct form).
    */
  private def nearestCodeL2(v: Column, cents: Seq[Array[Float]]): Column =
    VecFns.nearestCodeL2(v, cents)

  /** Train per-subspace codebooks: deterministic seeds (the lowest
    * `k` ids' subvectors) + one distributed Lloyd iteration over the
    * exploded (sub, subvector) relation — one pass assigns ALL
    * subspaces, one keyed agg refines all codebooks. Returns
    * codebooks(sub)(code) = centroid subvector.
    */
  def trainPqCodebooks(embeddings: DataFrame, idName: String, vecName: String,
                       numSub: Int, k: Int): Seq[Seq[Array[Float]]] = {
    require(k >= 2 && k <= 256, "codes per subspace in [2,256] (a byte)")
    val seedRows = embeddings.orderBy(col(idName)).limit(k)
      .select(vecName).collect().map(_.getSeq[Float](0).toArray)
    require(seedRows.length == k, s"corpus smaller than k=$k")
    // dim from the seed rows already collected — the dedicated
    // size() head() job read one row to answer the same question
    val dim = seedRows.head.length
    require(dim % numSub == 0, s"dim $dim not divisible into $numSub subspaces")
    val w = dim / numSub
    val seeds: Seq[Seq[Array[Float]]] =
      (0 until numSub).map(s => seedRows.toSeq.map(_.slice(s * w, (s + 1) * w)))
    val subRel = embeddings.select(posexplode(array((0 until numSub).map(s =>
        slice(col(vecName), s * w + 1, w)): _*)).as(Seq("sub", "sv")))
    val assigned = subRel.withColumn("code",
      (1 until numSub).foldLeft(nearestCodeL2(col("sv"), seeds(0))) { (acc, s) =>
        when(col("sub") === s, nearestCodeL2(col("sv"), seeds(s))).otherwise(acc)
      })
    val means = assigned
      .select(col("sub"), col("code"), posexplode(col("sv")).as(Seq("d", "x")))
      .groupBy(col("sub"), col("code"), col("d")).agg(avg(col("x")).as("m"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
    val byCell = means.groupBy(t => (t._1, t._2))
    (0 until numSub).map { s =>
      (0 until k).map { c =>
        byCell.get((s, c)) match {
          case Some(cell) =>
            val arr = new Array[Float](w)
            cell.foreach(t => arr(t._3) = t._4.toFloat)
            arr
          case None => seeds(s)(c) // empty cell keeps its seed
        }
      }
    }
  }

  /** PQ code array (one int per subspace) for a vector column. */
  def pqEncode(v: Column, codebooks: Seq[Seq[Array[Float]]]): Column = {
    val numSub = codebooks.size
    val w = codebooks.head.head.length
    array((0 until numSub).map(s =>
      nearestCodeL2(slice(v, s * w + 1, w), codebooks(s))): _*)
  }

  /** Build the PQ index: the code table (`path/codes`: id + numSub
    * ints — the narrow relation a 100 TB query scans) and the
    * codebook sidecar (`path/codebooks`), published through
    * [[Publish]] like the IVF index.
    */
  def buildPqIndex(embeddings: DataFrame, idName: String, vecName: String,
                   numSub: Int, k: Int, path: String): Unit = {
    val spark = embeddings.sparkSession
    Publish.dirs(spark, PqTier.at(path)) {
      case Seq(codes, codebooks, stats) =>
        val emb = nonNullVecs(embeddings, vecName, "buildPqIndex")
        val books = trainPqCodebooks(emb, idName, vecName, numSub, k)
        // ONE corpus pass: the code-table write carries the build-time
        // per-subspace stats baseline — the reference point
        // [[pqDriftReport]] measures codebook drift against — as
        // `observe()` metrics on the write job itself (guide §1.2: the
        // stats baseline was a SECOND full corpus pass running alongside
        // the write; the residual of the chosen cell is computable from
        // the row's own codes column, so it rides the write for the cost
        // of one zip_with per subspace per row). Arithmetic is
        // single-sourced with pqListStats ([[pqResidE6]] per row,
        // [[pqStatsFinal]] for the mean), so the written baseline is
        // bit-identical to the dedicated pass's.
        val (codesDf, obs) = observedCodes(emb, idName, vecName, books,
          0 until numSub)
        Publish.concurrently(spark)(() => codesDf.write.parquet(codes),
          () => writeCodebooks(spark, books, codebooks))
        statsFromObservation(spark, obs, 0 until numSub)
          .withColumnRenamed("n", "n_build")
          .withColumnRenamed("resid_e6", "resid_build_e6")
          .coalesce(1).write.parquet(stats)
    }
  }

  private def writeCodebooks(spark: SparkSession, books: Seq[Seq[Array[Float]]],
                             dir: String): Unit =
    writeSidecar(spark, dir, "sub INT, code INT, centroid ARRAY<FLOAT>",
      books.zipWithIndex.flatMap { case (cs, s) =>
        cs.zipWithIndex.map { case (c, i) => Row(s, i, c.toSeq) }
      })

  /** Per-row quantization residual of subspace `s` (×1e6, long):
    * L2² of the row's subvector to its chosen cell, fixed-point so
    * sums are exact in any order. THE shared arithmetic between
    * [[pqListStats]] and the observed build-time baseline — both
    * paths evaluate this expression tree over the same columns, so
    * their residuals are bit-identical by construction. `code` is the
    * subspace's chosen code: `element_at(codes, s+1)` when a codes
    * column is already computed (the observed-write path), or
    * `nearestCodeL2(...)` fresh (the measurement path) — the same
    * int either way ([[pqEncode]] is exactly per-subspace
    * nearestCodeL2).
    */
  private def pqResidE6(vec: Column, code: Column, s: Int, w: Int,
                        books: Seq[Seq[Array[Float]]]): Column = {
    val sv = slice(vec, s * w + 1, w)
    val cell = element_at(typedlit(books(s).map(_.toSeq)), code + 1)
    round(aggregate(zip_with(sv.cast("array<double>"),
        cell.cast("array<double>"),
        (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, x) => acc + x) * lit(1e6), 0)
      .cast("long")
  }

  /** (sub, n, resid_e6) from per-sub (n, Σresid): the one place the
    * mean arithmetic lives — n=0 rows are dropped (an empty corpus
    * measures no subspaces, matching the keyed-agg form's empty
    * output).
    */
  private def pqStatsFinal(perSub: DataFrame): DataFrame =
    perSub.filter(col("n") > 0L)
      .select(col("sub"), col("n"),
        round(col("__sr").cast("double") / col("n"), 0)
          .cast("long").as("resid_e6"))

  /** The code-table projection plus an [[org.apache.spark.sql
    * .Observation]] whose metrics carry the per-subspace stats of
    * `subsSeq` — consumed by [[statsFromObservation]] after the
    * returned frame's write completes.
    */
  private def observedCodes(embeddings: DataFrame, idName: String,
                            vecName: String,
                            books: Seq[Seq[Array[Float]]],
                            subsSeq: Seq[Int])
      : (DataFrame, org.apache.spark.sql.Observation) = {
    val w = books.head.head.length
    val obs = org.apache.spark.sql.Observation()
    val withCodes = embeddings.select(col(idName),
      pqEncode(col(vecName), books).as("codes"), col(vecName).as("__v"))
    val metrics: Seq[Column] = count(lit(1)).as("__n") +:
      subsSeq.map(s => sum(pqResidE6(col("__v"),
        element_at(col("codes"), s + 1), s, w, books)).as(s"__sr_$s"))
    val observed = withCodes.observe(obs, metrics.head, metrics.tail: _*)
      .select(col(idName), col("codes"))
    (observed, obs)
  }

  /** The observed metrics as the (sub, n, resid_e6) relation —
    * [[pqStatsFinal]] applied to driver-sized rows, so the mean
    * arithmetic is the same Spark expression the measurement path
    * runs.
    */
  private def statsFromObservation(spark: org.apache.spark.sql.SparkSession,
                                   obs: org.apache.spark.sql.Observation,
                                   subsSeq: Seq[Int]): DataFrame = {
    val m = obs.get
    val n = m("__n").asInstanceOf[Long]
    import scala.jdk.CollectionConverters._
    val rows = subsSeq.map { s =>
      val sr = Option(m(s"__sr_$s")).fold(0L)(_.asInstanceOf[Long])
      org.apache.spark.sql.Row(s, n, sr)
    }.asJava
    pqStatsFinal(spark.createDataFrame(rows,
      org.apache.spark.sql.types.StructType.fromDDL(
        "sub INT, n BIGINT, __sr BIGINT")))
  }

  /** Per-subspace (sub, n, mean quantization error ×1e6) of a float
    * corpus under the given codebooks: error = L2² of each subvector
    * to its NEAREST cell (exactly what [[pqEncode]] picks), held as
    * fixed-point e6 longs so comparisons are engine-exact. One fused
    * partial aggregation — per-sub residual sums accumulate in one
    * pass over the UNEXPLODED corpus (the posexplode + keyed-shuffle
    * form moved every subvector once to compute a subspace-count-
    * sized answer), values bit-identical ([[pqResidE6]] /
    * [[pqStatsFinal]] single-source the arithmetic; long sums are
    * order-exact). `subsOpt` restricts the measurement to a subspace
    * subset (the [[rebuildPqSubspaces]] re-baseline — flagged rows
    * only).
    */
  private def pqListStats(embeddings: DataFrame, vecName: String,
                          books: Seq[Seq[Array[Float]]],
                          subsOpt: Option[Seq[Int]] = None): DataFrame = {
    val numSub = books.size
    val w = books.head.head.length
    val subsSeq = subsOpt.getOrElse(0 until numSub)
    val aggs: Seq[Column] = count(lit(1)).as("__n") +:
      subsSeq.map(s => sum(pqResidE6(col(vecName),
        nearestCodeL2(slice(col(vecName), s * w + 1, w), books(s)),
        s, w, books)).as(s"__sr_$s"))
    val one = embeddings.agg(aggs.head, aggs.tail: _*)
    val perSub = one.select(explode(array(subsSeq.map(s =>
        struct(lit(s).as("sub"), col("__n").as("n"),
          col(s"__sr_$s").as("__sr"))): _*)).as("__r"))
      .select(col("__r.sub").as("sub"), col("__r.n").as("n"),
        col("__r.__sr").as("__sr"))
    pqStatsFinal(perSub)
  }

  /** Codebook-drift report for a frozen-codebook PQ index — the
    * rebuild trigger [[appendPqIndex]]'s scaladoc promises (the
    * ivfDriftReport discipline, one tier over): per-subspace corpus
    * size and mean quantization error NOW (over the float corpus the
    * code table indexes — pass the same embeddings relation the
    * serve path re-ranks against) vs the build-time `stats` baseline.
    * A subspace flags `drifted` when its mean error grew more than
    * `residGrowthPct`% over the baseline (integer-exact comparison on
    * the e6 fixed-point values) or the corpus outgrew the build by
    * `occupancyGrowth`× — either way the frozen cells no longer
    * tile the data and ADC ranking degrades behind the re-rank's
    * back. Rebuild (ensurePqIndex over the union) when subspaces
    * flag.
    */
  def pqDriftReport(spark: org.apache.spark.sql.SparkSession,
                    indexPath: String, embeddings: DataFrame,
                    vecName: String, residGrowthPct: Long = 50L,
                    occupancyGrowth: Double = 4.0): DataFrame = {
    val books = readPqCodebooks(spark, indexPath)
    val now = pqListStats(embeddings, vecName, books)
      .withColumnRenamed("n", "n_now")
      .withColumnRenamed("resid_e6", "resid_now_e6")
    val build = spark.read.parquet(s"$indexPath/stats")
    now.join(broadcast(build), Seq("sub"), "left")
      .select(col("sub").cast("long").as("sub"),
        coalesce(col("n_build"), lit(0L)).as("n_build"),
        col("n_now"), col("resid_build_e6"), col("resid_now_e6"),
        (col("resid_now_e6") - coalesce(col("resid_build_e6"),
          col("resid_now_e6"))).as("resid_delta_e6"))
      .withColumn("drifted",
        col("n_build") === 0L ||
          col("resid_now_e6") * 100L >
            col("resid_build_e6") * (100L + residGrowthPct) ||
          col("n_now").cast("double") >
            col("n_build").cast("double") * occupancyGrowth)
      .orderBy("sub")
  }

  def ensurePqIndex(embeddings: DataFrame, idName: String, vecName: String,
                    numSub: Int, k: Int, path: String): Unit =
    ensureIndex(path, PqTier)(buildPqIndex(embeddings, idName, vecName, numSub, k, _))

  /** The codebook sidecar as driver state: numSub × k × subDim —
    * parameter-sized, ordered (sub, code).
    */
  def readPqCodebooks(spark: org.apache.spark.sql.SparkSession,
                      indexPath: String): Seq[Seq[Array[Float]]] =
    readSidecar(spark, s"$indexPath/codebooks")
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map(_._2.map(_.getSeq[Float](2).toArray).toSeq)

  /** Append a batch to a PQ index under the FROZEN codebook sidecar —
    * the maintenance path the other quantization tiers already carry
    * (IVF [[appendIvfIndex]], SQ8 [[appendSq8Index]], binary
    * [[appendBinaryIndex]]). [[pqEncode]] is a pure function of
    * (vector, codebooks), so the appended code table is BIT-IDENTICAL
    * to one built from scratch over the union with the same codebooks
    * (spec-pinned), and pre-append code rows are untouched (append
    * only adds files). Loud guards match the family discipline:
    * dimensionality (a batch whose vectors are not numSub·subDim wide
    * is a different embedding space — slice() would quietly encode
    * short subvectors) and id-disjointness (a replayed batch would
    * duplicate code rows). Codebook drift is the documented debt: a
    * shifted ingest distribution encodes against stale cells and ADC
    * ranking degrades — rebuild (ensurePqIndex over the union) when
    * the re-rank stage stops hiding it. Each append lands one file set
    * — fold the code table with [[graft.sources.Compaction
    * .compactAppends]] between appends at high cadence.
    */
  def appendPqIndex(spark: org.apache.spark.sql.SparkSession,
                    indexPath: String, newEmbeddings: DataFrame,
                    idName: String, vecName: String): Unit = {
    val books = readPqCodebooks(spark, indexPath)
    appendIndex(indexPath, PqTier, newEmbeddings, idName) { who =>
      frozenVecs(newEmbeddings, vecName, books.size * books.head.head.length, who)
        .select(col(idName), pqEncode(col(vecName), books).as("codes"))
    }
  }

  /** Partial PQ rebuild — the maintenance remedy for a
    * [[pqDriftReport]] flag, completing the family (IVF
    * [[rebuildIvfLists]], IVF×SQ8 [[rebuildIvfSq8Lists]], binary
    * [[rebinBinaryIndex]]). PQ's partial unit is the SUBSPACE, not a
    * list: the index is a flat ADC table (no `__cid=` partitions) and
    * drift is measured per subspace, so only the FLAGGED subspaces'
    * codebooks retrain; the others stay frozen.
    *
    * Why this retrains from the FLOAT corpus, unlike
    * [[rebuildIvfSq8Lists]]' code-reconstruction: SQ8 codes carry one
    * byte per DIMENSION (reconstruction is the vector to ~1/255), but
    * a PQ code carries one byte per SUBSPACE — reconstruction
    * collapses every member onto its cell centroid, and re-clustering
    * k centroids into k cells is a FIXED POINT (the rebuild would be
    * a no-op by construction). The honest partial economy is in the
    * training and stats passes instead: the Lloyd refinement and the
    * re-baseline explode only the flagged subspaces (flagged/numSub
    * of the full rebuild's agg volume), and seeding is FREE — the
    * frozen cells seed their own retrain (driver state; zero scans,
    * vs trainPqCodebooks' lowest-id collect), which is also the
    * drift-robust choice: the old tiling spans the old modes and one
    * Lloyd step pulls each cell to the weighted mass of the CURRENT
    * corpus, whereas lowest-id seeds all predate the drift
    * (rebuildIvfLists' mis-centering argument). Empty cells keep
    * their frozen seed (the trainPqCodebooks rule).
    *
    * The re-encode is one scan of `embeddings`: flagged subspaces
    * against the retrained cells, unflagged against the FROZEN cells
    * — [[pqEncode]] is a pure function of (vector, codebooks), so
    * unflagged code VALUES are bit-identical to the stored ones
    * (spec-pinned) without shuffling the code table back in (a
    * corpus-sized id join would cost more than the recompute at any
    * scale). `embeddings` must be exactly the indexed corpus — both
    * directions loud-checked — because the code table is rewritten
    * from it; the stats sidecar re-baselines only the flagged rows
    * (the rebuildIvfLists device), so a subsequent [[pqDriftReport]]
    * measures against the rebuilt state. Codes, codebooks and stats
    * publish together through [[Publish]]; the dimensionality and
    * id-set guards are in-row raises inside that write.
    */
  def rebuildPqSubspaces(spark: org.apache.spark.sql.SparkSession,
                         indexPath: String, embeddings: DataFrame,
                         idName: String, vecName: String,
                         subs: Seq[Int]): Unit = {
    require(subs.nonEmpty, "rebuildPqSubspaces: no subspaces to rebuild")
    require(subs.distinct.size == subs.size,
      s"rebuildPqSubspaces: duplicate subs in ${subs.mkString(",")}")
    val books = readPqCodebooks(spark, indexPath)
    val numSub = books.size
    val w = books.head.head.length
    val unknown = subs.filterNot(s => s >= 0 && s < numSub)
    require(unknown.isEmpty,
      s"rebuildPqSubspaces: unknown sub(s) ${unknown.mkString(",")} " +
        s"(numSub=$numSub)")
    // in-row guards, raised by the first job that reads the relation:
    // NULL and dimensionality on every pass; on the re-encode also
    // id-set equality — the code table is REWRITTEN from `embeddings`,
    // so a missing id would silently drop its code row and an extra id
    // would silently append one
    val emb = frozenVecs(embeddings, vecName, numSub * w, "rebuildPqSubspaces")
    val codeIds = spark.read.parquet(s"$indexPath/codes").select(col(idName))
    val id = col(idName).cast("string")
    Publish.dirs(spark, PqTier.at(indexPath)) { case Seq(codes, codebooks, stats) =>
      // one Lloyd refinement over JUST the flagged subspaces, seeded by
      // the frozen cells (the trainPqCodebooks refinement convention)
      val subRel = emb.select(posexplode(array(subs.map(s =>
          struct(lit(s).as("sub"), slice(col(vecName), s * w + 1, w).as("sv"))
        ): _*)).as(Seq("__i", "__r")))
        .select(col("__r.sub").as("sub"), col("__r.sv").as("sv"))
      val assigned = subRel.withColumn("code",
        subs.tail.foldLeft(nearestCodeL2(col("sv"), books(subs.head))) {
          (acc, s) =>
            when(col("sub") === s, nearestCodeL2(col("sv"), books(s)))
              .otherwise(acc)
        })
      val means = assigned
        .select(col("sub"), col("code"), posexplode(col("sv")).as(Seq("d", "x")))
        .groupBy(col("sub"), col("code"), col("d")).agg(avg(col("x")).as("m"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
      val byCell = means.groupBy(t => (t._1, t._2))
      val retrained: Map[Int, Seq[Array[Float]]] = subs.map { s =>
        s -> books(s).indices.map { c =>
          byCell.get((s, c)) match {
            case Some(cell) =>
              val arr = new Array[Float](w)
              cell.foreach(t => arr(t._3) = t._4.toFloat)
              arr
            case None => books(s)(c) // empty cell keeps its frozen seed
          }
        }
      }.toMap
      val merged: Seq[Seq[Array[Float]]] =
        books.zipWithIndex.map { case (cs, s) => retrained.getOrElse(s, cs) }
      // ONE corpus pass (the buildPqIndex discipline): the re-encode
      // write carries the flagged-row stats re-baseline as observe()
      // metrics; the codebook-sidecar write overlaps the re-encode
      // (guide §2.6). Unflagged codebook rows stay value-identical
      // (spec-pinned).
      val (codesDf, obs) = observedCodes(emb, idName, vecName, merged, subs)
      Publish.concurrently(spark)(() => withSameIdsGuard(codesDf, embeddings, codeIds, idName,
        when(col("__missing"), format_string("rebuildPqSubspaces: indexed id " +
          "%s absent from the embeddings relation — pass the same corpus the " +
          "index codes", id))
        .otherwise(format_string("rebuildPqSubspaces: embedding id %s not in " +
          "the index — append first (appendPqIndex), then rebuild", id)))
        .write.parquet(codes),
        () => writeCodebooks(spark, merged, codebooks))
      // stats: re-baseline ONLY the flagged rows (driver-sized, from the
      // write's observed metrics); unflagged rows keep their stored
      // baseline
      val fresh = statsFromObservation(spark, obs, subs)
        .withColumnRenamed("n", "n_build")
        .withColumnRenamed("resid_e6", "resid_build_e6")
      spark.read.parquet(s"$indexPath/stats")
        .filter(!col("sub").isin(subs: _*))
        .unionByName(fresh).coalesce(1).write.parquet(stats)
    }
  }

  /** ADC search over the PQ index: score every code row against the
    * query's per-subspace distance table (a literal — parameter-sized
    * driver state), take the `rerank` best candidates from the CODE
    * scan alone, then re-rank exactly against the full vectors
    * (semi-joined — only `rerank` wide rows are ever read back).
    * Returns (id, l2) top-`kOut` by true distance, ties → id asc.
    */
  def pqTopK(spark: org.apache.spark.sql.SparkSession, indexPath: String,
             embeddings: DataFrame, idName: String, vecName: String,
             queryVec: Array[Float], kOut: Int, rerank: Int = 64,
             excludeId: Long = -1L): DataFrame = {
    require(rerank >= kOut && kOut >= 1)
    val books = readPqCodebooks(spark, indexPath)
    val numSub = books.size
    val w = books.head.head.length
    // ADC table: adc(s)(c) = ‖c‖² − 2·q_s·c (rank-equivalent to the
    // exact per-subspace L2 against the query's subvector)
    val adc: Seq[Seq[Double]] = books.zipWithIndex.map { case (cs, s) =>
      val qs = queryVec.slice(s * w, (s + 1) * w)
      cs.map { c =>
        var dot = 0.0; var i = 0
        while (i < w) { dot += qs(i).toDouble * c(i); i += 1 }
        sqNorm(c) - 2.0 * dot
      }
    }
    val adcLit = typedlit(adc.map(_.toArray).toArray)
    val cands = spark.read.parquet(s"$indexPath/codes")
      .filter(col(idName) =!= excludeId)
      .select(col(idName),
        aggregate(
          zip_with(col("codes"), sequence(lit(0), lit(numSub - 1)),
            (c, s) => element_at(element_at(adcLit, s + 1), c + 1)),
          lit(0.0), (acc, x) => acc + x).as("approx"))
      .orderBy(col("approx").asc, col(idName).asc)
      .limit(rerank)
    val q = typedlit(queryVec)
    embeddings.join(cands.select(idName), Seq(idName), "left_semi")
      .select(col(idName),
        round(sqrt(VecFns.dot(col(vecName), col(vecName))
          - lit(2.0) * VecFns.dot(col(vecName), q) + lit(sqNorm(queryVec))), 6)
          .as("l2"))
      .orderBy(col("l2").asc, col(idName).asc)
      .limit(kOut)
  }

  /** Per-label centroid of the embedding column: posexplode + one
    * keyed shuffle with partial aggregation — the standard
    * "element-wise mean at scale" shape (no vector collect).
    */
  def labelCentroids(embeddings: DataFrame, labelName: String, vecName: String): DataFrame =
    embeddings
      .select(col(labelName), posexplode(col(vecName)).as(Seq("dim", "x")))
      .groupBy(col(labelName), col("dim").cast("long").as("dim"))
      .agg(round(avg(col("x")), 6).as("centroid"))

  /** Nearest-centroid classification: assign every vector to its
    * closest label centroid (squared L2) and return the confusion
    * matrix (true_label, pred, n) — the standard "does the embedding
    * space separate my taxonomy" audit a labeling pipeline runs
    * before trusting auto-labels.
    *
    * Distributed shape: centroids come from [[labelCentroids]] (one
    * keyed agg), stay a RELATION (labels × dims rows — never a
    * driver collect), and broadcast into a posexplode'd join on dim;
    * per-(vector, candidate-label) distances reduce in one shuffle
    * keyed on (id, label). Cost is rows × dims × labels — linear in
    * the corpus for a fixed taxonomy, and the only wide shuffle keys
    * on the vector id.
    *
    * Cross-engine parity: centroids are rounded to 1e-6 first (the
    * q35-proven contract), then every per-dim squared residual is
    * floored at 1e-8 fixed point, so the distance sum is exact
    * integer math and the argmin (dist asc, label asc) is identical
    * on every engine and aggregation order.
    */
  def nearestCentroidConfusion(embeddings: DataFrame, idName: String,
                               labelName: String, vecName: String): DataFrame = {
    val cents = labelCentroids(embeddings, labelName, vecName)
      .withColumnRenamed(labelName, "pred")
    val dists = embeddings
      .select(col(idName).as("id"), col(labelName).as("true_label"),
        posexplode(col(vecName)).as(Seq("dim", "x")))
      .select(col("id"), col("true_label"),
        col("dim").cast("long").as("dim"), col("x").cast("double").as("x"))
      .join(broadcast(cents), Seq("dim"))
      .withColumn("d", col("x") - col("centroid"))
      .withColumn("d2fp", floor(col("d") * col("d") * lit(1e8) + lit(0.5)).cast("long"))
      .groupBy(col("id"), col("true_label"), col("pred"))
      .agg(sum(col("d2fp")).as("dist_fp"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("dist_fp").asc, col("pred").asc)
    dists.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .groupBy(col("true_label"), col("pred"))
      .agg(count(lit(1)).as("n"))
  }

  /** SemDeDup-style semantic deduplication: cluster the corpus with
    * the coarse quantizer, then prune near-identical vectors WITHIN
    * each cluster — a greedy keep-lowest-id sweep: a vector is
    * dropped iff some smaller-id member of its own cluster is within
    * `tau` cosine. Returns the survivors as (id, cid).
    *
    * Why cluster first: the pairwise search is quadratic, so it must
    * never run corpus-wide. Clustering bounds it to within-cluster
    * pairs; at scale nlist grows with the corpus (SemDeDup runs ~10⁵
    * clusters) so cluster size — and with it the per-cluster pair
    * count — stays bounded, and the join is a keyed shuffle on cid,
    * not a broadcast nested loop. Centroid state is parameter-sized
    * (nlist × dim), the same contract as the IVF family.
    *
    * Determinism: the quantizer is seeded from the lowest ids, the
    * cosine is rounded to 1e-6 before the tau comparison, and the
    * greedy rule depends only on id order — the surviving set is
    * identical on every engine, retry, and partitioning.
    *
    * Invariant (checked by the registered query's self-check): no two
    * SURVIVORS of the same cluster are within tau — if a < b both
    * survived with cos(a,b) ≥ tau, b would have been dropped.
    */
  /** Clone contraction (round 8): the within-cluster pairwise sweep
    * runs over representatives of identical vectors — the uncontracted
    * join was quadratic in clone-cluster size, the same failure mode
    * the 100× probe caught in the banded family. Centroid training is
    * untouched (it scans the full corpus linearly, so clones weight
    * the means exactly as before). The greedy drop rule re-derived at
    * rep level, exactly:
    *
    * member b of clone group G is dropped iff some same-cid a < b has
    * cos(a,b) ≥ tau. All of a clone group shares one vector and one
    * cid, so cos(a,b) depends only on (group(a), group(b)) and
    * "∃ a ∈ H with a < b" ⟺ rep(H) < b (the rep IS the group
    * minimum). Hence, with minThreat(G) = min rep id over OTHER
    * same-cid groups within tau of G:
    *  - if G's self-cosine ≥ tau (any non-degenerate vector): only
    *    G's rep can survive, and it survives iff minThreat(G) > rep;
    *  - if G's self-cosine < tau (a zero vector — clones do not drop
    *    each other): every member below minThreat(G) survives.
    */
  def semanticDedup(embeddings: DataFrame, idName: String, vecName: String,
                    tau: Double, nlist: Int = 16): DataFrame = {
    val cents = trainCentroids(embeddings, idName, vecName, nlist)
    semanticDedupFrozen(embeddings, idName, vecName, tau, cents)
  }

  /** [[semanticDedup]] under a FROZEN centroid set — the form the
    * incremental/streaming twin shares with the batch one: the
    * quantizer is a parameter, not retrained per call, so two calls
    * over different slices of one corpus cluster identically (the
    * frozen-sidecar discipline of every streaming tier here).
    */
  private[graft] def semanticDedupFrozen(embeddings: DataFrame,
                                         idName: String, vecName: String,
                                         tau: Double,
                                         cents: Seq[Array[Float]]): DataFrame = {
    val rows = embeddings.select(col(idName).as("id"), col(vecName).as("v"))
    // adaptive (Dedup.contractBy): membersOpt None ⇒ no clone groups,
    // the per-member selfDup/expansion machinery vanishes and the
    // greedy rule reduces to its rep-level form directly
    val (groups, membersOpt) = Dedup.contractBy(rows, "id", "v")
    val reps = materialized(groups.select(col("rid"), col("v"))
      .withColumn("cid", nearestCid(col("v"), cents)))
    // SYMMETRIC rep-level threat relation (the per-member a<b
    // comparison happens against minThreat below, so both directions
    // of every rep pair must contribute)
    val threats = reps.select(col("cid"), col("rid").as("rid_a"), col("v").as("va"))
      .join(reps.select(col("cid"), col("rid").as("rid_b"), col("v").as("vb")),
        Seq("cid"))
      .filter(col("rid_a") =!= col("rid_b"))
      .filter(round(VecFns.cosine(col("va"), col("vb")), 6) >= tau)
      .groupBy(col("rid_b")).agg(min(col("rid_a")).as("minThreat"))
      .withColumnRenamed("rid_b", "rid")
    membersOpt match {
      case None =>
        // every row is its own rep: survive iff no lower-id same-cid
        // neighbor within tau — the original greedy rule verbatim
        reps.join(threats, Seq("rid"), "left")
          .filter(col("minThreat").isNull || col("rid") < col("minThreat"))
          .select(col("rid").as(idName), col("cid"))
      case Some(members0) =>
        val members = materialized(members0)
        val selfDup = reps.select(col("rid"),
          (round(VecFns.cosine(col("v"), col("v")), 6) >= tau).as("selfDup"))
        val keep = members
          .join(selfDup, Seq("rid"))
          .join(threats, Seq("rid"), "left")
          .filter(
            (!col("selfDup") || col("mid") === col("rid")) &&
              (col("minThreat").isNull || col("mid") < col("minThreat")))
          .select(col("rid"), col("mid"))
        keep.join(reps.select(col("rid"), col("cid")), Seq("rid"))
          .select(col("mid").as(idName), col("cid"))
    }
  }

  /** Train and persist the coarse-quantizer sidecar the continuous
    * SemDeDup twin freezes over — the planning pass before the stream
    * starts (the [[initSq8Scales]] discipline, one tier over):
    * centroids from the PLANNING corpus land at `stateDir/centroids`,
    * and every later batch assigns against them unchanged, so
    * cross-batch cluster ids are comparable by construction.
    */
  def initSemanticCentroids(embeddings: DataFrame, idName: String,
                            vecName: String, nlist: Int,
                            stateDir: String): Unit = {
    val spark = embeddings.sparkSession
    Publish.dir(spark, s"$stateDir/centroids")(writeCentroids(spark,
      trainCentroids(embeddings, idName, vecName, nlist), _))
  }

  /** The batch-vs-archive core of continuous SemDeDup
    * ([[graft.streaming.StreamOps]]' semanticDedupBatch and any
    * at-least-once orchestrator share it): given the FROZEN centroids
    * and the archive of ALL previously ingested vectors (id, cid, v —
    * dropped ones included: a near-duplicate of a dropped vector is
    * still a near-duplicate, the q216 all-ingested discipline),
    * returns (this batch's survivors (idName, cid), this batch's
    * archive rows (id, cid, v)) — both LAZY; the caller owns
    * materialization order relative to its archive mutation.
    *
    * A batch vector drops iff an ARCHIVED same-cluster vector is
    * within tau (history canonical), or a SMALLER-ID same-cluster
    * batch-mate is ([[semanticDedupFrozen]]'s rule verbatim). With
    * ascending-id batches (the backlog contract) the accumulated
    * survivor set therefore EQUALS the frozen-centroid batch device
    * over everything ingested: the drop rule is a pure domination
    * predicate — "some smaller-id same-cluster vector within tau" —
    * and the archive holds exactly the smaller ids. The archive probe
    * is one cid-keyed join (the within-cluster quadratic bound is the
    * SemDeDup scale argument: nlist grows with the corpus, cluster
    * size stays bounded).
    */
  /** (id, cid, v) assignment of a relation against frozen centroids —
    * the archive-row shape of the continuous SemDeDup state.
    */
  private[graft] def assignToCentroids(batch: DataFrame, idName: String,
                                       vecName: String,
                                       cents: Seq[Array[Float]]): DataFrame =
    batch.select(col(idName).as("id"), col(vecName).as("v"))
      .withColumn("cid", nearestCid(col("v"), cents))
      .select(col("id"), col("cid"), col("v"))

  private[graft] def semanticDedupVsArchive(batch: DataFrame, idName: String,
                                            vecName: String, tau: Double,
                                            cents: Seq[Array[Float]],
                                            arch: DataFrame,
                                            batchRows0: Option[DataFrame] = None)
      : (DataFrame, DataFrame) = {
    // the batch's assignment relation feeds BOTH returned frames (the
    // archive-rows write and the domination probe inside kept); a
    // caller that persists it passes it in (the cdcSegmentsBatch
    // `Some(segs)` sharing pattern) so the nearest-centroid pass runs
    // once per trigger instead of once per consumer
    val batchRows = batchRows0.getOrElse(
      assignToCentroids(batch, idName, vecName, cents))
    val within = semanticDedupFrozen(batch, idName, vecName, tau, cents)
    val dominated = batchRows
      .join(arch.select(col("cid"), col("v").as("__va")), Seq("cid"))
      .filter(round(VecFns.cosine(col("v"), col("__va")), 6) >= tau)
      .select(col("id").as(idName)).distinct()
    val kept = within.join(dominated, Seq(idName), "left_anti")
    (kept, batchRows)
  }

  // ================= SQ8 scalar quantization =================

  /** Per-dimension symmetric scales for int8 scalar quantization:
    * scale_d = max(|x_d|) over the corpus. One posexplode + keyed max
    * — dim-sized driver state (the centroid/codebook discipline).
    */
  def sq8Scales(embeddings: DataFrame, vecName: String): Array[Double] = {
    val rows = embeddings
      .select(posexplode(col(vecName).cast("array<double>")).as(Seq("dim", "x")))
      .groupBy(col("dim")).agg(max(abs(col("x"))).as("m"))
      .orderBy(col("dim")).collect()
    require(rows.nonEmpty, "sq8Scales over an empty corpus")
    rows.map(_.getDouble(1))
  }

  /** Quantize a vector column to int8 codes (as longs) with the given
    * per-dimension scales: q_d = round(x_d · 127 / scale_d), a
    * zero-scale dimension (constant 0 across the corpus) coding to 0.
    * Engine-exact: x·127 and /scale are single correctly-rounded IEEE
    * ops on the same doubles in any engine, and round() is
    * half-away-from-zero in both Spark and DuckDB — so the codes, and
    * every INTEGER dot product over them, are bit-identical
    * cross-engine with no 6-decimal coarsening needed.
    */
  def sq8Quantize(vec: Column, scales: Array[Double]): Column =
    zip_with(vec.cast("array<double>"), typedlit(scales), (x, m) =>
      when(m > 0.0, round(x * lit(127.0) / m, 0)).otherwise(lit(0.0)))
      .cast("array<long>")

  /** SQ8 top-k: rank the corpus by the EXACT int64 dot product of
    * int8 codes against the quantized query — the memory-bandwidth
    * play at data scale (the scan reads 1/4 the vector bytes; at
    * 100 TB the code column is the persisted artifact and the float
    * vectors stay cold). The ranking is exact integer arithmetic over
    * deterministically-derived codes, so unlike the LSH/IVF/PQ tiers
    * this tier needs no recall envelope: a SQL engine reproduces the
    * result bit-for-bit. Deterministic order: score desc, id asc.
    */
  def sq8TopK(embeddings: DataFrame, idName: String, vecName: String,
              queryId: Long, k: Int): DataFrame = {
    val scales = sq8Scales(embeddings, vecName)
    val qCodes = embeddings.filter(col(idName) === queryId)
      .select(sq8Quantize(col(vecName), scales).as("q"))
      .head().getSeq[Long](0).toArray
    val score = aggregate(
      zip_with(sq8Quantize(col(vecName), scales), typedlit(qCodes),
        (a, b) => a * b),
      lit(0L), (acc, v) => acc + v)
    embeddings.filter(col(idName) =!= queryId)
      .select(col(idName), score.as("qscore"))
      .orderBy(col("qscore").desc, col(idName).asc)
      .limit(k)
  }

  /** Build-time half of the persisted SQ8 tier (the IVF/PQ artifact
    * discipline at `buildIvfIndex`/`buildPqIndex`): compute the
    * per-dimension scales once, quantize the corpus once, and WRITE
    * the codes PACKED one byte per dimension (`indexPath/codes`, a
    * binary column via [[graft.functions.VecFns.packInt8]]) plus the
    * dim-sized scales sidecar (`indexPath/scales`). This realizes the
    * memory-bandwidth claim the ad-hoc [[sq8TopK]] can't: a query
    * scan reads 1/4 the bytes of the float vectors, and the floats
    * stay cold (optional exact re-rank tier). Quantization is a pure
    * function of (vector, scales), so the indexed ranking is
    * BIT-IDENTICAL to the ad-hoc form (spec-pinned). A NULL vector, or
    * one narrower or wider than the corpus, is rejected by the tier's
    * in-row guards ([[frozenVecs]]) before anything is published.
    */
  def buildSq8Index(embeddings: DataFrame, idName: String, vecName: String,
                    indexPath: String): Unit = {
    val spark = embeddings.sparkSession
    Publish.dirs(spark, Sq8Tier.at(indexPath)) {
      case Seq(codes, scalesDir) =>
        val scales = sq8Scales(embeddings, vecName)
        // the scales come from this corpus, so nothing can clip; a NULL
        // or ragged vector still raises instead of coding a NULL or
        // zero-filled row
        frozenVecs(embeddings, vecName, scales.length, "buildSq8Index")
          .select(col(idName), sq8Code(col(vecName), scales).as("codes"))
          .write.parquet(codes)
        writeDims(spark, scalesDir, "scale", scales)
    }
  }

  /** The packed SQ8 code of a vector column under `scales`. */
  private def sq8Code(vec: Column, scales: Array[Double]): Column =
    VecFns.packInt8(sq8Quantize(vec, scales))

  /** The SQ8 tier's guarded encoder: (id, packed codes) of `df` under
    * the frozen `scales`, every [[frozenVecs]] guard (clip included)
    * riding the row.
    */
  private[graft] def sq8Codes(df: DataFrame, idName: String, vecName: String,
                              scales: Array[Double], who: String): DataFrame =
    frozenVecs(df, vecName, scales.length, who, Some(scales))
      .select(col(idName), sq8Code(col(vecName), scales).as("codes"))

  /** Planning-pass half of a STREAMED SQ8 index: freeze the scales
    * sidecar BEFORE any batch arrives (one corpus pass — the same
    * pass a batch build pays), so every micro-batch codes under
    * identical state and the streamed index converges bit-for-bit to
    * the batch-built one (q212 carries q197's oracle verbatim).
    * Codes then land under `codes/batch=<id>` via
    * [[graft.streaming.StreamOps.sq8CodesSink]].
    */
  def initSq8Scales(embeddings: DataFrame, vecName: String,
                    indexPath: String): Unit = {
    val spark = embeddings.sparkSession
    Publish.dir(spark, s"$indexPath/scales")(
      writeDims(spark, _, "scale", sq8Scales(embeddings, vecName)))
  }

  /** Build the SQ8 index only if absent — both halves publish
    * atomically under [[Artifact.ensure]] so a reader never sees
    * codes without the scales sidecar (the ensureIvfIndex protocol).
    */
  def ensureSq8Index(embeddings: DataFrame, idName: String, vecName: String,
                     indexPath: String): Unit =
    ensureIndex(indexPath, Sq8Tier)(buildSq8Index(embeddings, idName, vecName, _))

  /** Rewrite guard for a table recoded from `corpus`: the two id sets
    * must be equal. A full-outer join of the ids alone (the payload
    * never shuffles on the guard's account) marks each side; `text`
    * sees `idName` and `__missing` (the id is indexed but absent from
    * the corpus).
    */
  private def withSameIdsGuard(out: DataFrame, corpus: DataFrame,
                               indexIds: DataFrame, idName: String,
                               text: Column): DataFrame =
    Publish.withGuardRows(out, corpus.select(col(idName), lit(true).as("__e"))
      .join(indexIds.select(col(idName), lit(true).as("__c")), Seq(idName), "full_outer")
      .filter(col("__e").isNull || col("__c").isNull)
      .select(col(idName), col("__e").isNull.as("__missing")), text)

  /** Append a new batch to an existing SQ8 index WITHOUT re-deriving
    * scales: the batch quantizes against the PERSISTED scales sidecar
    * (read once, dim-sized) and its packed codes land as new files in
    * the code table — the continuous-ingest maintenance path (the
    * appendIvfIndex / appendPostings discipline; the sidecar is
    * untouched). Quantization is a pure function of (vector, scales),
    * so the appended index is BIT-IDENTICAL to coding the union under
    * the same scales (spec-pinned). Scale drift is the documented
    * debt, and it fails LOUDLY instead of clipping: a batch dimension
    * whose max |x_d| exceeds the frozen scale_d would code outside
    * int8 and silently corrupt every ranking involving it — one
    * in-row guard rejects the batch before the append commits
    * (rebuild via [[buildSq8Index]] on the union when it trips). A
    * NULL vector, one of another width, and an id already indexed are
    * rejected the same way. Each append lands one file set — fold the
    * code table with
    * [[graft.sources.Compaction.compactAppends]] between appends at
    * high cadence.
    */
  def appendSq8Index(spark: org.apache.spark.sql.SparkSession,
                     indexPath: String, newEmbeddings: DataFrame,
                     idName: String, vecName: String): Unit = {
    val scales = readSq8Scales(spark, indexPath)
    appendIndex(indexPath, Sq8Tier, newEmbeddings, idName) {
      sq8Codes(newEmbeddings, idName, vecName, scales, _)
    }
  }

  /** The scales sidecar (dim-sized driver state — the centroid/
    * codebook class), for encoding NEW queries against a persisted
    * index.
    */
  def readSq8Scales(spark: org.apache.spark.sql.SparkSession,
                    indexPath: String): Array[Double] =
    readDims(spark, s"$indexPath/scales")

  /** Query-time half: rank by the exact int64 dot of PACKED codes,
    * reading ONLY the code column — the query's own codes come from
    * the code table too (one point lookup), so the float tier is
    * never touched. Same output as [[sq8TopK]] with the same corpus,
    * bit for bit.
    */
  def sq8TopKIndexed(spark: org.apache.spark.sql.SparkSession, indexPath: String,
                     idName: String, queryId: Long, k: Int): DataFrame = {
    val codes = spark.read.parquet(s"$indexPath/codes")
    val qRows = codes.filter(col(idName) === queryId)
      .select(col("codes")).take(1)
    require(qRows.nonEmpty, s"sq8TopKIndexed: query $idName=$queryId not in index")
    val q = qRows.head.getAs[Array[Byte]](0)
    codes.filter(col(idName) =!= queryId)
      .select(col(idName),
        graft.functions.VecFns.sq8Dot(col("codes"), lit(q)).as("qscore"))
      .orderBy(col("qscore").desc, col(idName).asc)
      .limit(k)
  }

  /** Composed IVF × SQ8 layout — the FAISS-IVFSQ serving shape and
    * the canonical 100 TB one when PQ's lossy codes are too coarse:
    * the corpus is PARTITIONED by coarse-quantizer list (directory
    * pruning: a query touches nprobe/nlist of the files) and each row
    * stores ONLY the packed 1-byte/dim SQ8 codes — the scanned bytes
    * are (nprobe/nlist) × 1/4 of the float corpus, multiplying the
    * two tiers' savings. Sidecars: centroids (coarse quantizer) and
    * scales (SQ8) — both parameter-sized, published atomically with
    * the code table. Ranking inside the probed lists is the exact
    * int64 code dot (deterministic given the sidecars); the float
    * tier stays cold — re-rank candidates by id against the source
    * table when needed (the [[sq8TopKReranked]] discipline).
    */
  def buildIvfSq8Index(embeddings: DataFrame, idName: String, vecName: String,
                       nlist: Int, indexPath: String): Unit = {
    val spark = embeddings.sparkSession
    Publish.dirs(spark, IvfSq8Tier.at(indexPath)) { case Seq(codes, centroids, scalesDir) =>
      val emb = nonNullVecs(embeddings, vecName, "buildIvfSq8Index")
      val cents = trainCentroids(emb, idName, vecName, nlist)
      val scales = sq8Scales(emb, vecName)
      emb.withColumn("__cid", nearestCid(col(vecName), cents))
        .select(col(idName), col("__cid"), sq8Code(col(vecName), scales).as("codes"))
        .write.partitionBy("__cid").parquet(codes)
      writeCentroids(spark, cents, centroids)
      writeDims(spark, scalesDir, "scale", scales)
    }
  }

  /** Build the IVF-SQ8 index only if absent; all three pieces publish
    * atomically (the ensureIvfIndex protocol).
    */
  def ensureIvfSq8Index(embeddings: DataFrame, idName: String, vecName: String,
                        nlist: Int, indexPath: String): Unit =
    ensureIndex(indexPath, IvfSq8Tier)(buildIvfSq8Index(embeddings, idName, vecName,
      nlist, _))

  /** Append a new batch to an existing IVF-SQ8 index: assignment
    * against the FROZEN centroid sidecar (the appendIvfIndex rule)
    * and coding under the FROZEN scales sidecar (the appendSq8Index
    * rule, including its loud clip rejection) — both sidecars
    * untouched, new rows land as files inside the matching list
    * partitions, and because both assignment and coding are pure
    * functions of (vector, sidecars), the appended index is
    * BIT-IDENTICAL to building over the union with the same sidecars
    * (spec-pinned). Centroid drift and scale clipping are the two
    * documented debts; the first degrades recall gradually (rebuild
    * when probes miss), the second fails loudly here, as do a NULL
    * vector (no nearest list), one of another width and an id already
    * indexed. Each append
    * lands one file set inside each receiving list — fold with
    * [[graft.sources.Compaction.compactAppends]] (leaf-wise, list
    * dirs preserved) between appends at high cadence.
    */
  def appendIvfSq8Index(spark: org.apache.spark.sql.SparkSession,
                        indexPath: String, newEmbeddings: DataFrame,
                        idName: String, vecName: String): Unit = {
    val cents = readCentroids(spark, indexPath)
    val scales = readSq8Scales(spark, indexPath)
    appendIndex(indexPath, IvfSq8Tier, newEmbeddings, idName, "__cid") { who =>
      frozenVecs(newEmbeddings, vecName, scales.length, who, Some(scales))
        .select(col(idName), nearestCid(col(vecName), cents).as("__cid"),
          sq8Code(col(vecName), scales).as("codes"))
    }
  }

  /** Partial list rebuild for the COMPOSED IVF×SQ8 index —
    * [[rebuildIvfLists]]' sliver argument on the tier where drifted-
    * mode serving actually lives at 100 TB (SCALING.md Finding 2):
    * only the flagged `__cid=` code partitions are read (directory-
    * pruned), member geometry is reconstructed from the persisted
    * codes under the FROZEN scales sidecar (v̂_d = code_d·scale_d/127
    * — never a re-read of the float corpus, and the scales are
    * untouched so the code BYTES are invariant: this rebuild moves
    * rows between lists, it never re-quantizes), a fresh deterministic
    * quantizer retrains over just them (farthest-point seeding — the
    * [[rebuildIvfLists]] mis-centering argument), and the write is a
    * directory-scoped dynamic partition overwrite: untouched list
    * files stay byte-identical (spec-pinned), stale emptied slots are
    * Hadoop-FS-deleted with a required result — [[rebuildLists]] over
    * the reconstructed members, the codes as payload. The composed
    * index keeps no stats sidecar, so there is nothing to re-baseline.
    * The list rewrite and the centroid sidecar publish atomically one
    * after the other.
    */
  def rebuildIvfSq8Lists(spark: org.apache.spark.sql.SparkSession,
                         indexPath: String, idName: String,
                         cids: Seq[Int], splitTo: Option[Int] = None): Unit = {
    // reconstruction under the frozen scales: the same geometry the
    // coarse quantizer assigned on, up to per-coordinate quantization
    rebuildLists(spark, indexPath, IvfSq8Tier, idName, cids, splitTo, "codes",
      zip_with(VecFns.unpackInt8(col("codes")).cast("array<double>"),
        typedlit(readSq8Scales(spark, indexPath).toSeq), (c, m) => c * m / lit(127.0))
        .cast("array<float>"))
    ()
  }

  /** Query-time half of the composed index: pick the nprobe nearest
    * lists driver-side (centroid sidecar), scan ONLY those partitions
    * of the code table, rank by the exact int64 code dot. The query
    * vector quantizes against the scales sidecar through the SAME
    * engine kernel the build used (a 1-row sq8Quantize job — no local
    * float-arithmetic reimplementation to drift).
    */
  def ivfSq8TopK(spark: org.apache.spark.sql.SparkSession, indexPath: String,
                 idName: String, queryVec: Array[Float], k: Int,
                 nprobe: Int = 4, excludeId: Long = -1L): DataFrame = {
    val cents = readCentroids(spark, indexPath)
    require(nprobe >= 1 && nprobe <= cents.size)
    val scales = readSq8Scales(spark, indexPath)
    val probes = probeList(cents, queryVec, nprobe)
    val qLongs: Seq[Long] = spark.range(1)
      .select(sq8Quantize(typedlit(queryVec), scales).as("q"))
      .head().getSeq[Long](0)
    // an external query with |x_d| above the frozen scale_d quantizes
    // outside int8; toByte would silently wrap (128 -> -128) and
    // corrupt the ranking — reject loudly, like every other SQ8 path
    qLongs.zipWithIndex.foreach { case (c, d) =>
      require(c >= -128L && c <= 127L,
        f"ivfSq8TopK: query dim $d%d codes to $c%d outside int8 " +
          f"(|x_$d%d| = ${math.abs(queryVec(d).toDouble)}%.6g exceeds the " +
          f"frozen scale ${scales(d)}%.6g) — rebuild the index over the " +
          "union instead")
    }
    val qCodes: Array[Byte] = qLongs.map(_.toByte).toArray
    spark.read.parquet(s"$indexPath/codes")
      .filter(col("__cid").isin(probes: _*))
      .filter(col(idName) =!= excludeId)
      .select(col(idName),
        graft.functions.VecFns.sq8Dot(col("codes"), lit(qCodes)).as("qscore"))
      .orderBy(col("qscore").desc, col(idName).asc)
      .limit(k)
  }

  /** Batch serve over the persisted SQ8 index — the q88/q198
    * broadcast geometry on the code tier: the probe batch's OWN codes
    * come from the code table (one point-filter, ≤ [[MaxSq8Batch]]
    * rows, broadcast), then ONE code-column scan scores every
    * (corpus row × probe) pair and a per-probe rank window cuts
    * top-k (Spark 4's WindowGroupLimit keeps the cut partial
    * map-side). Linear in the corpus regardless of batch size —
    * never a corpus self-join; the batch cap is the documented scale
    * contract (negativeMining's discipline). Absent probe ids fail
    * LOUDLY (a missing id would silently serve k fewer result
    * groups). Exact integer ranking → FULL oracle.
    */
  val MaxSq8Batch = 128

  def sq8TopKBatch(spark: org.apache.spark.sql.SparkSession,
                   indexPath: String, idName: String,
                   probeIds: Seq[Long], k: Int): DataFrame = {
    require(k >= 1)
    require(probeIds.nonEmpty && probeIds.size <= MaxSq8Batch,
      s"sq8TopKBatch serves 1..$MaxSq8Batch probes per call, got " +
        s"${probeIds.size} — chunk larger batches (the scan is linear " +
        "per call; the cap bounds the broadcast and the score width)")
    val codes = spark.read.parquet(s"$indexPath/codes")
    // collect the ≤MaxSq8Batch probe rows ONCE (one point-filter scan)
    // and verify the DISTINCT id set: a row-count check would let a
    // duplicated present probe mask an absent one if the code table
    // ever held duplicate ids, and counting then joining scanned the
    // probe relation twice
    val probeRows = codes.filter(col(idName).isin(probeIds: _*))
      .select(col(idName).cast("long").as("query_id"), col("codes").as("__qc"))
      .collect()
    val foundIds = probeRows.map(_.getLong(0)).toSet
    val missing = probeIds.toSet.diff(foundIds)
    require(missing.isEmpty,
      s"sq8TopKBatch: probe ids [${missing.toSeq.sorted.mkString(", ")}] " +
        "are not in the index — absent probes would silently vanish")
    require(probeRows.length == foundIds.size,
      s"sq8TopKBatch: the code table holds duplicate rows for probe " +
        s"id(s) — the index is corrupt (appends must be id-disjoint)")
    val probes = spark.createDataFrame(
      java.util.Arrays.asList(probeRows: _*),
      org.apache.spark.sql.types.StructType.fromDDL(
        "query_id BIGINT, __qc BINARY"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("qscore").desc, col("nn_id").asc)
    codes.crossJoin(broadcast(probes))
      .filter(col(idName) =!= col("query_id"))
      .select(col("query_id"), col(idName).as("nn_id"),
        graft.functions.VecFns.sq8Dot(col("codes"), col("__qc")).as("qscore"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** Metadata-FILTERED serve over the persisted SQ8 index — the
    * filtered-vector-search shape every production store needs, done
    * as a PRE-filter: the code scan semi-joins against the caller's
    * filtered id relation BEFORE ranking, so the result is exact
    * top-k over the filtered corpus and always k rows when k
    * survivors exist. (The alternative — post-filtering an unfiltered
    * top-k — both under-fills and silently loses the best filtered
    * candidates; it is not offered.) Cost: one code-column scan
    * (1/4 the float bytes) + an id-keyed semi-join — a selective
    * filter relation broadcasts, an unselective one shuffles on the
    * id like any equi-join. Deterministic integer ranking → FULL
    * oracle. The query's own codes come from the code table and need
    * NOT satisfy the filter (query-by-example across categories is
    * the normal case).
    */
  def sq8TopKFiltered(spark: org.apache.spark.sql.SparkSession,
                      indexPath: String, idName: String,
                      filterIds: DataFrame, queryId: Long, k: Int): DataFrame = {
    val codes = spark.read.parquet(s"$indexPath/codes")
    val qRows = codes.filter(col(idName) === queryId)
      .select(col("codes")).take(1)
    require(qRows.nonEmpty, s"sq8TopKFiltered: query $idName=$queryId not in index")
    val q = qRows.head.getAs[Array[Byte]](0)
    codes.filter(col(idName) =!= queryId)
      .join(filterIds.select(col(idName)), Seq(idName), "left_semi")
      .select(col(idName),
        graft.functions.VecFns.sq8Dot(col("codes"), lit(q)).as("qscore"))
      .orderBy(col("qscore").desc, col(idName).asc)
      .limit(k)
  }

  /** Two-stage serving over the persisted SQ8 index — the production
    * retrieve-then-rerank shape (pqTopK's discipline on the SQ8
    * tier): stage 1 scans ONLY the packed code column for the
    * `rerank` highest int64 code-dot candidates (deterministic:
    * score desc, id asc); stage 2 re-ranks exactly those rows by the
    * rounded float cosine — the float tier is read for `rerank` rows
    * (a broadcast semi-filter on the scan), never the corpus. Both
    * stages are deterministic integer / fixed-point arithmetic, so
    * the WHOLE pipeline replays in SQL — a FULL oracle with no recall
    * envelope: unlike PQ/IVF, SQ8's candidate stage is exact over the
    * codes, so the only approximation is quantization itself, and the
    * re-rank repairs the final ordering.
    */
  def sq8TopKReranked(spark: org.apache.spark.sql.SparkSession,
                      indexPath: String, embeddings: DataFrame,
                      idName: String, vecName: String, queryId: Long,
                      k: Int, rerank: Int): DataFrame = {
    require(k >= 1 && rerank >= k, s"need 1 <= k <= rerank, got k=$k rerank=$rerank")
    val cands = sq8TopKIndexed(spark, indexPath, idName, queryId, rerank)
    val qv = embeddings.filter(col(idName) === queryId)
      .select(col(vecName)).head().getSeq[Float](0).toArray
    embeddings.join(broadcast(cands), idName)
      .select(col(idName),
        round(VecFns.cosine(col(vecName), typedlit(qv)), 6).as("cosine"),
        col("qscore"))
      .orderBy(col("cosine").desc, col(idName).asc)
      .limit(k)
  }

  // ================= binary (1-bit) sign quantization =================
  //
  // The smallest member of the quantization family (float -> SQ8 ->
  // PQ -> 1-bit): each dimension collapses to ONE bit, so a 64-dim
  // float vector becomes a single int64 word — a 32x scan-byte
  // reduction, the cheapest possible first-stage filter at 100 TB
  // (modern vector stores ship exactly this tier as "binary
  // quantization"). Candidate ranking is Hamming distance over the
  // packed words (xor + popcount, all codegen'd built-ins — no custom
  // kernel needed at this width), repaired by an exact-cosine re-rank
  // of the top candidates (the sq8TopKReranked discipline). Every
  // stage is deterministic: thresholds are ORDER-INDEPENDENT corpus
  // stats (per-dimension midpoint (min+max)/2 — min/max commute, and
  // the midpoint is one IEEE op), bits are exact double comparisons,
  // and Hamming sums are integer math — so the full two-stage serve
  // replays bit-for-bit in SQL with no recall envelope.

  /** Per-dimension binarization thresholds: the midpoint
    * (min+max)/2 of each dimension over the corpus. Midpoint rather
    * than mean keeps the stat ORDER-INDEPENDENT (a mean's float
    * summation order could flip a bit for a value within one ulp of
    * it; min/max cannot), while still centering dimensions whose
    * range is not sign-symmetric. One posexplode + keyed min/max —
    * dim-sized driver state (the scales/centroid discipline). The
    * same aggregate counts the vectors reaching each dimension, so a
    * RAGGED corpus ([[binQuantize]] would code its missing dimensions
    * as 0 bits, quietly) is rejected for free: the first dimension
    * then counts more vectors than the last.
    */
  def binThresholds(embeddings: DataFrame, vecName: String): Array[Double] =
    binDimStats(embeddings, vecName, "binThresholds")
      .map(r => (r.getDouble(1) + r.getDouble(2)) / 2.0)

  /** Per-dimension (dim, min, max) rows of a vector corpus, ordered by
    * dim; rejects an empty or ragged corpus (see [[binThresholds]]).
    */
  private def binDimStats(embeddings: DataFrame, vecName: String,
                          who: String): Array[org.apache.spark.sql.Row] = {
    val rows = embeddings
      .select(posexplode(col(vecName).cast("array<double>")).as(Seq("dim", "x")))
      .groupBy(col("dim"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"), count(lit(1)).as("n"))
      .orderBy(col("dim")).collect()
    require(rows.nonEmpty, s"$who over an empty corpus")
    if (rows.head.getLong(3) != rows.last.getLong(3))
      throw new IllegalArgumentException(s"$who: ${rows.head.getLong(3) -
        rows.last.getLong(3)} vector(s) shorter than ${rows.length} " +
        "dimensions — ragged embedding corpus")
    rows
  }

  /** Binarize a vector column against per-dimension thresholds and
    * pack the bits into `ceil(dim/64)` int64 words (dim d -> bit
    * (d mod 64) of word (d div 64)): `array<long>` — the persisted
    * code representation. Pure function of (vector, thresholds), all
    * built-ins (zip_with/slice/aggregate), so quantization stays
    * inside whole-stage codegen and the appended-index bit-identity
    * argument is the same one the SQ8 tier makes.
    */
  def binQuantize(vec: Column, thresholds: Array[Double]): Column = {
    val dim = thresholds.length
    val words = (dim + 63) / 64
    val bits = zip_with(vec.cast("array<double>"),
      typedlit(thresholds.toSeq),
      (x, t) => when(x > t, lit(1L)).otherwise(lit(0L)))
    val wordCols = (0 until words).map { w =>
      val lo = w * 64
      val len = math.min(dim - lo, 64)
      // bit (d - lo) of the word via shift + OR — pure bitwise ops
      // (an arithmetic fold would trip ANSI overflow checks on the
      // sign bit; the word is an opaque bit container)
      aggregate(
        transform(slice(bits, lo + 1, len),
          (b, i) => call_function("shiftleft", b, i)),
        lit(0L), (acc, x) => acc.bitwiseOR(x))
    }
    array(wordCols: _*)
  }

  /** Hamming distance between two packed bit-code columns:
    * Σ popcount(a_w xor b_w) — integer-exact, codegen'd built-ins.
    */
  def binHamming(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) =>
        bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), (acc, h) => acc + h)

  /** Ad-hoc two-stage binary serve: stage 1 ranks the corpus by
    * Hamming distance of packed sign codes to the query's code
    * (ascending, id ascending — deterministic) and keeps the top
    * `rerank`; stage 2 re-ranks those by exact rounded cosine. Like
    * [[sq8TopK]] this form re-derives thresholds and re-quantizes
    * floats per call — correct anywhere, but the production path is
    * the persisted [[buildBinaryIndex]]/[[binaryTopKIndexed]] tier
    * whose stage-1 scan reads 1/32 of the float bytes.
    */
  def binaryTopK(embeddings: DataFrame, idName: String, vecName: String,
                 queryId: Long, k: Int, rerank: Int): DataFrame = {
    require(k >= 1 && rerank >= k, s"need 1 <= k <= rerank, got k=$k rerank=$rerank")
    val thr = binThresholds(embeddings, vecName)
    val qRows = embeddings.filter(col(idName) === queryId)
      .select(binQuantize(col(vecName), thr).as("q"), col(vecName))
    val qHead = qRows.take(1)
    require(qHead.nonEmpty, s"binaryTopK: query $idName=$queryId not found")
    val qCode = qHead.head.getSeq[Long](0)
    val qv = qHead.head.getSeq[Float](1).toArray
    val cands = embeddings.filter(col(idName) =!= queryId)
      .select(col(idName),
        binHamming(binQuantize(col(vecName), thr), typedlit(qCode))
          .as("hamming"))
      .orderBy(col("hamming").asc, col(idName).asc)
      .limit(rerank)
    embeddings.join(broadcast(cands), idName)
      .select(col(idName),
        round(VecFns.cosine(col(vecName), typedlit(qv)), 6).as("cosine"),
        col("hamming"))
      .orderBy(col("cosine").desc, col(idName).asc)
      .limit(k)
  }

  /** Build-time half of the persisted binary tier: thresholds once,
    * quantize once, write the packed `array<long>` code table
    * (`indexPath/codes`) plus the dim-sized thresholds sidecar
    * (`indexPath/thresholds`) — the buildSq8Index layout one tier
    * smaller. A stage-1 scan over this table reads 1 bit per
    * dimension: 1/32 of the float bytes (1/8 of SQ8's). Both halves
    * publish together through [[Publish]]: a rejected corpus leaves
    * any prior index at `indexPath` as it was.
    */
  def buildBinaryIndex(embeddings: DataFrame, idName: String, vecName: String,
                       indexPath: String): Unit = {
    val spark = embeddings.sparkSession
    Publish.dirs(spark, BinaryTier.at(indexPath)) {
      case Seq(codes, thresholds) =>
        val thr = binThresholds(embeddings, vecName)
        binCodes(embeddings, idName, vecName, thr, "buildBinaryIndex")
          .write.parquet(codes)
        writeDims(spark, thresholds, "thr", thr)
    }
  }

  /** The binary tier's guarded encoder: (id, code) of `df` under the
    * frozen thresholds `thr`, every [[frozenVecs]] guard riding the row
    * ([[binQuantize]]'s zip_with would null-pad a vector shorter, or
    * truncate one longer, than the thresholds — quietly).
    */
  private[graft] def binCodes(df: DataFrame, idName: String, vecName: String,
                              thr: Array[Double], who: String): DataFrame =
    frozenVecs(df, vecName, thr.length, who)
      .select(col(idName), binQuantize(col(vecName), thr).as("code"))

  /** The thresholds sidecar (dim-sized driver state). */
  def readBinThresholds(spark: org.apache.spark.sql.SparkSession,
                        indexPath: String): Array[Double] =
    readDims(spark, s"$indexPath/thresholds")

  /** Threshold-drift report for a frozen-threshold binary index —
    * the rebuild trigger [[appendBinaryIndex]]'s scaladoc promises:
    * per-dimension CURRENT midpoint ((min+max)/2 over the corpus the
    * code table now indexes) vs the frozen thresholds sidecar. A
    * dimension flags `drifted` when its midpoint moved more than
    * `deltaFrac` of its current range away from the frozen threshold
    * — appends from a shifted distribution then binarize against a
    * stale cut and that dimension's bit carries ~no information for
    * the new mode (stage-1 Hamming recall decays behind the re-rank's
    * back). Every value is order-independent IEEE arithmetic
    * (min/max commute, one midpoint op, one subtraction), so the
    * whole report replays exactly in SQL — a FULL-oracle row, unlike
    * the k-means-derived IVF/PQ baselines. One posexplode + one keyed
    * agg, run eagerly (it also rejects a ragged corpus, or one whose
    * dimensionality is not the index's); dim-sized output.
    */
  def binDriftReport(spark: org.apache.spark.sql.SparkSession,
                     indexPath: String, embeddings: DataFrame,
                     vecName: String, deltaFrac: Double = 0.25): DataFrame = {
    import scala.jdk.CollectionConverters._
    val thr = readBinThresholds(spark, indexPath)
    val stats = binDimStats(embeddings, vecName, "binDriftReport")
    require(stats.length == thr.length,
      s"binDriftReport: corpus has dimension ${stats.length} but the " +
        s"thresholds code ${thr.length} dimensions — ragged embedding corpus")
    spark.createDataFrame(stats.toSeq.asJava, org.apache.spark.sql.types.StructType
        .fromDDL("dim INT, __mn DOUBLE, __mx DOUBLE, n BIGINT"))
      .select(col("dim").cast("long").as("dim"),
        element_at(typedlit(thr.toSeq), col("dim").cast("int") + 1).as("thr"),
        ((col("__mn") + col("__mx")) / lit(2.0)).as("mid_now"),
        (col("__mx") - col("__mn")).as("range_now"))
      .withColumn("delta", round(abs(col("mid_now") - col("thr")), 6))
      .withColumn("drifted",
        col("delta") > round(col("range_now") * lit(deltaFrac), 6))
      .orderBy("dim")
  }

  /** Planning-pass half of a STREAMED binary index (the
    * initSq8Scales discipline): freeze the thresholds sidecar BEFORE
    * any batch arrives, so every micro-batch codes under identical
    * state and the streamed index converges bit-for-bit to the
    * batch-built one. Codes then land under `codes/batch=<id>` via
    * [[graft.streaming.StreamOps.binCodesSink]].
    */
  def initBinThresholds(embeddings: DataFrame, vecName: String,
                        indexPath: String): Unit = {
    val spark = embeddings.sparkSession
    Publish.dir(spark, s"$indexPath/thresholds")(
      writeDims(spark, _, "thr", binThresholds(embeddings, vecName)))
  }

  /** Build the binary index only if absent — both halves publish
    * atomically under [[Artifact.ensure]] (the ensureSq8Index
    * protocol).
    */
  def ensureBinaryIndex(embeddings: DataFrame, idName: String, vecName: String,
                        indexPath: String): Unit =
    ensureIndex(indexPath, BinaryTier)(buildBinaryIndex(embeddings, idName, vecName, _))

  /** Append a batch under the FROZEN thresholds sidecar (the
    * appendSq8Index maintenance path). Unlike SQ8 there is no clip
    * hazard — a bit is a bit whatever the magnitude — so the loud
    * guards are dimensionality (a batch wider or narrower than the
    * index is a different embedding space) and id-disjointness (a
    * replayed batch would duplicate code rows and serve paths could
    * return one id twice). Threshold drift is the documented debt:
    * appends from a shifted distribution binarize against stale
    * midpoints and stage-1 recall decays — rebuild over the union
    * when re-rank repair stops hiding it (the binary analogue of the
    * [[ivfDriftReport]] trigger).
    */
  def appendBinaryIndex(spark: org.apache.spark.sql.SparkSession,
                        indexPath: String, newEmbeddings: DataFrame,
                        idName: String, vecName: String): Unit = {
    val thr = readBinThresholds(spark, indexPath)
    appendIndex(indexPath, BinaryTier, newEmbeddings, idName) {
      binCodes(newEmbeddings, idName, vecName, thr, _)
    }
  }

  /** Re-bin a drifted binary index — the remedy [[binDriftReport]]'s
    * flag prescribes, cheaper than a rebuild-from-scratch mindset
    * suggests because both halves are single passes: freeze NEW
    * midpoint thresholds from the corpus the index now serves (the
    * [[binThresholds]] keyed agg — dim-sized driver state), re-code
    * every row in ONE scan, and re-baseline the sidecar so a
    * subsequent drift report reads exactly-zero deltas. Guards:
    * dimensionality, and ID-SET EQUALITY between the corpus and the
    * code table — re-binning from a corpus that lost or gained rows
    * would silently shrink or grow the index behind the serve path's
    * back. Both are in-row raises inside the re-code write, and codes
    * and thresholds publish together through [[Publish]] (codes
    * first, thresholds LAST — a crash between the two swaps leaves a
    * report that reads DIRTY, prompting a re-run, never one that
    * reads clean over mixed-generation codes).
    */
  def rebinBinaryIndex(spark: org.apache.spark.sql.SparkSession,
                       indexPath: String, embeddings: DataFrame,
                       idName: String, vecName: String): Unit = {
    val thrOld = readBinThresholds(spark, indexPath)
    val codeIds = spark.read.parquet(s"$indexPath/codes").select(col(idName))
    Publish.dirs(spark, BinaryTier.at(indexPath)) {
      case Seq(codes, thresholds) =>
        val thr = binThresholds(embeddings, vecName)
        require(thr.length == thrOld.length,
          s"rebinBinaryIndex: corpus has dimension ${thr.length} but the " +
            s"index codes ${thrOld.length} — not the same embedding space")
        withSameIdsGuard(binCodes(embeddings, idName, vecName, thr,
            "rebinBinaryIndex"), embeddings, codeIds, idName, format_string(
            "rebinBinaryIndex: corpus and code table disagree on id %s — " +
              "re-bin from exactly the corpus the index serves",
            col(idName).cast("string")))
          .write.parquet(codes)
        writeDims(spark, thresholds, "thr", thr)
    }
  }

  /** Query-time half of the persisted tier: stage 1 ranks by Hamming
    * over the packed code table ONLY (the query's own code is a point
    * lookup in the same table — floats untouched); stage 2 joins the
    * `rerank` survivors back to the float table for the exact rounded
    * cosine. Same output as [[binaryTopK]] over the same corpus, bit
    * for bit (spec-pinned) — but the scan reads 1/32 of the bytes.
    */
  def binaryTopKIndexed(spark: org.apache.spark.sql.SparkSession,
                        indexPath: String, embeddings: DataFrame,
                        idName: String, vecName: String, queryId: Long,
                        k: Int, rerank: Int): DataFrame = {
    require(k >= 1 && rerank >= k, s"need 1 <= k <= rerank, got k=$k rerank=$rerank")
    val codes = spark.read.parquet(s"$indexPath/codes")
    val qRows = codes.filter(col(idName) === queryId)
      .select(col("code")).take(1)
    require(qRows.nonEmpty,
      s"binaryTopKIndexed: query $idName=$queryId not in index")
    val q = qRows.head.getSeq[Long](0)
    val cands = codes.filter(col(idName) =!= queryId)
      .select(col(idName), binHamming(col("code"), typedlit(q)).as("hamming"))
      .orderBy(col("hamming").asc, col(idName).asc)
      .limit(rerank)
    val qv = embeddings.filter(col(idName) === queryId)
      .select(col(vecName)).head().getSeq[Float](0).toArray
    embeddings.join(broadcast(cands), idName)
      .select(col(idName),
        round(VecFns.cosine(col(vecName), typedlit(qv)), 6).as("cosine"),
        col("hamming"))
      .orderBy(col("cosine").desc, col(idName).asc)
      .limit(k)
  }

  // ================= JL random projection =================

  /** Deterministic ±1 entry of the sparse-JL sign matrix for
    * (seed, input dim d, output dim j): the parity of the first hex
    * character of md5("jl_<seed>_<d>_<j>") — the md5 device the
    * split/shuffle family uses, chosen because BOTH engines compute
    * the identical digest of the identical string, so the "random"
    * matrix replays exactly in SQL with no RNG to seed-match.
    */
  private def jlSign(seed: Long, d: Int, j: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"jl_${seed}_${d}_${j}".getBytes("UTF-8"))
    if ((hex(0) >> 4 & 1) == 0) 1L else -1L
  }

  /** Johnson–Lindenstrauss random projection to `outDim` dimensions —
    * the embedding-width reducer a 100 TB ANN tier runs BEFORE
    * quantizing (a dense-sign JL matrix preserves pairwise distances
    * within 1±ε at outDim = O(log n / ε²); projecting 64→16 dims cuts
    * every downstream scan, shuffle, and index by 4×).
    *
    * Exactness discipline: inputs quantize to 1e-6 fixed point FIRST
    * (one rounding per coordinate), so each output coordinate is an
    * exact INTEGER dot with a ±1 matrix — order-independent,
    * overflow-safe (|x|·1e6 ≤ ~5e8, ×64 dims ≤ 3.2e10), and
    * bit-replayable in SQL via the md5 sign device. Output is the
    * micro-unit integer vector `array<long>`; distances over it are
    * exact integer math (1e12 × the float-space squared distances,
    * up to the per-coordinate quantization).
    */
  /** Ceiling on the inDim×outDim sign literals [[randomProject]]
    * inlines into the plan. Above it the PLAN itself becomes the
    * bottleneck (analysis + codegen blow up on hundreds of thousands
    * of literals — e.g. 1024→128 = 131k) and the operator would
    * contradict its own 100 TB pitch; [[randomProjectJoined]] carries
    * the same matrix as a broadcast relation instead.
    */
  val JlLiteralCap: Int = 65536

  /** Ceiling on retrained slots per [[rebuildIvfLists]] call.
    * [[farthestSeeds]] runs slots−1 sequential driver-coordinated
    * scans — the partial-rebuild sliver stays cheap, but a caller
    * feeding a mass drift through it would launch a 200-job loop.
    * Past the cap, rebuild the index ([[ensureIvfIndex]]).
    */
  val RebuildSlotCap: Int = 64

  def randomProject(vec: Column, inDim: Int, outDim: Int, seed: Long): Column = {
    require(inDim >= 1 && outDim >= 1, s"bad dims in=$inDim out=$outDim")
    require(inDim.toLong * outDim <= JlLiteralCap,
      s"randomProject inlines inDim*outDim = ${inDim.toLong * outDim} " +
        s"sign literals into the plan — above $JlLiteralCap the plan " +
        "itself becomes the bottleneck (analysis/codegen blowup); use " +
        "randomProjectPacked (per-row kernel, the fast path) or " +
        "randomProjectJoined (broadcast sign-matrix relation, the " +
        "SQL-replayable path)")
    val vq = transform(vec.cast("array<double>"),
      x => round(x * lit(1e6), 0).cast("long"))
    val cols = (0 until outDim).map { j =>
      val signs: Seq[Long] = (0 until inDim).map(d => jlSign(seed, d, j))
      aggregate(zip_with(vq, typedlit(signs), (x, s) => x * s),
        lit(0L), (a, b) => a + b)
    }
    array(cols: _*)
  }

  /** The JL sign matrix as a RELATION (d, j, sign) — the same md5
    * device as [[jlSign]], computed distributed via the engine's md5
    * built-in (bit 4 of the digest's first byte = parity of its first
    * hex character), so matrix entries are identical to the literal
    * path's and still replay exactly in SQL.
    */
  def jlSignRel(spark: org.apache.spark.sql.SparkSession,
                inDim: Int, outDim: Int, seed: Long): DataFrame =
    spark.range(inDim.toLong * outDim).select(
        floor(col("id") / lit(outDim)).cast("int").as("d"),
        pmod(col("id"), lit(outDim.toLong)).cast("int").as("j"))
      .withColumn("sign",
        when(pmod(conv(substring(md5(concat_ws("_",
            lit("jl"), lit(seed), col("d"), col("j"))), 1, 1),
            16, 10).cast("long"), lit(2L)) === 0L, lit(1L))
          .otherwise(lit(-1L)))

  /** [[randomProject]] at PRODUCTION widths: the sign matrix rides as
    * a broadcast relation (inDim×outDim rows — a few MB even at
    * 4096→256) instead of plan literals. posexplode → broadcast join
    * on the input dimension → two keyed aggregations (partial
    * map-side combine collapses the inDim products per (id, j) before
    * the shuffle, so the exchange carries N×outDim rows, not
    * N×inDim×outDim). Values are IDENTICAL to the literal path
    * (spec-pinned at a width both can run): same 1e-6 fixed-point
    * quantization, same md5 sign device, integer sums —
    * order-independent.
    */
  /** [[randomProject]] at production widths, kernel form: the sign
    * matrix rides the plan as ONE reference object inside a custom
    * expression ([[graft.functions.VecFns.jlProject]]) and each row
    * pays a tight O(inDim·outDim) integer matvec — no plan literals
    * (the [[JlLiteralCap]] hazard) and no join-row per scalar product
    * (the [[randomProjectJoined]] overhead). Values are IDENTICAL to
    * both other paths (spec-pinned); use the joined form when the
    * projection must replay in SQL.
    */
  def randomProjectPacked(vec: Column, inDim: Int, outDim: Int,
                          seed: Long): Column =
    graft.functions.VecFns.jlProject(vec, inDim, outDim, seed)

  def randomProjectJoined(embeddings: DataFrame, idName: String,
                          vecName: String, inDim: Int, outDim: Int,
                          seed: Long): DataFrame = {
    require(inDim >= 1 && outDim >= 1, s"bad dims in=$inDim out=$outDim")
    val spark = embeddings.sparkSession
    val bad = embeddings.select(size(col(vecName)).as("d"))
      .filter(col("d") =!= inDim).take(1)
    require(bad.isEmpty,
      s"randomProjectJoined: corpus has a vector of dimension " +
        s"${bad.headOption.map(_.get(0)).getOrElse("?")} but inDim=$inDim " +
        "— ragged embedding corpus")
    val m = jlSignRel(spark, inDim, outDim, seed)
    embeddings
      .select(col(idName),
        posexplode(col(vecName).cast("array<double>")).as(Seq("d", "x")))
      .withColumn("xq", round(col("x") * lit(1e6), 0).cast("long"))
      .join(broadcast(m), Seq("d"))
      .groupBy(col(idName), col("j"))
      .agg(sum(col("xq") * col("sign")).as("p"))
      .groupBy(col(idName))
      .agg(transform(sort_array(collect_list(struct(col("j"), col("p")))),
        x => x.getField("p")).as("proj"))
  }

  /** Exact top-k in the PROJECTED space: rank by integer squared L2
    * over [[randomProject]]ed vectors (ascending, id ascending).
    * Deterministic end to end — a full oracle, with the JL recall-
    * vs-full-dim tradeoff pinned in the spec (it is a property of the
    * projection width, not of this operator's correctness).
    */
  def projectedTopK(embeddings: DataFrame, idName: String, vecName: String,
                    inDim: Int, outDim: Int, seed: Long, queryId: Long,
                    k: Int): DataFrame = {
    val proj = randomProject(col(vecName), inDim, outDim, seed)
    val qRows = embeddings.filter(col(idName) === queryId)
      .select(proj.as("p")).take(1)
    require(qRows.nonEmpty, s"projectedTopK: query $idName=$queryId not found")
    val q = qRows.head.getSeq[Long](0)
    embeddings.filter(col(idName) =!= queryId)
      .select(col(idName),
        aggregate(zip_with(proj, typedlit(q), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, v) => acc + v).as("pl2"))
      .orderBy(col("pl2").asc, col(idName).asc)
      .limit(k)
  }

  // ================= hard-negative mining =================

  /** Contrastive hard-negative mining: for every probe vector, the
    * top-k highest-cosine corpus vectors with a DIFFERENT label — the
    * "close in embedding space, wrong class" rows a contrastive
    * trainer wants as negatives. Exact over the probe batch via the
    * [[bruteTopKBatch]] shape (broadcast probes × one corpus scan,
    * linear in the corpus — the serving-batch geometry, never a
    * corpus self-join); ranking on the ROUNDED cosine keeps the cut
    * cross-engine-stable. NULL labels never pair, on EITHER side:
    * a NULL-label probe matches nothing (no negatives are defined
    * for an unlabeled probe), and NULL-label corpus rows are never
    * emitted as negatives (an unlabeled row cannot be shown to be a
    * different class — `label =!= label` is NULL, filtered). Callers
    * that want unlabeled corpus rows as negatives must assign them
    * an explicit sentinel label first (spec-pinned in
    * SimilaritySpec).
    */
  def negativeMining(probes: DataFrame, corpus: DataFrame, idName: String,
                     vecName: String, labelName: String, k: Int): DataFrame = {
    require(k >= 1)
    val qs = probes.select(col(idName).as("query_id"),
      col(vecName).as("__qv"), col(labelName).as("__ql"))
    val c = corpus.select(col(idName).as("nn_id"),
      col(vecName).as("__cv"), col(labelName).as("__cl"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("nn_id").asc)
    c.crossJoin(broadcast(qs))
      .filter(col("nn_id") =!= col("query_id"))
      .filter(col("__cl") =!= col("__ql"))
      .withColumn("cosine", round(VecFns.cosine(col("__cv"), col("__qv")), 6))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col("query_id"), col("nn_id"),
        col("__cl").as("neg_label"), col("cosine"))
  }

  // ================= MMR diversified retrieval =================

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    * 1998): greedily select `k` results trading relevance against
    * redundancy — pick argmax of λ·rel(d) − (1−λ)·max_{s∈S} sim(d,s)
    * until |S| = k. λ is fixed at 1/2, where the MMR ordering is
    * EXACTLY the ordering of (rel − maxSimToSelected): with both
    * measures held as ×1e6 rounded longs the whole selection is
    * integer arithmetic — deterministic, engine-replayable (the
    * oracle unrolls the same greedy picks in SQL), no float-order
    * risk.
    *
    * Scale shape: the DISTRIBUTED work is one corpus scan producing
    * the `poolN` most relevant candidates (TakeOrdered on the rounded
    * score with an id tie-break — a total order, so the pool is
    * unique) plus one poolN² pairwise-similarity job; the greedy loop
    * itself runs on the driver over parameter-sized state (poolN
    * rels + poolN² sims — query parameters, like centroids or
    * codebooks, never corpus-sized). Ties at every pick break to the
    * smaller id.
    *
    * `poolN` is a BUDGET, not a free knob: the pairwise-sim job and
    * the driver state are quadratic in it, so a caller passing a
    * corpus-sized pool would silently turn the operator into a
    * collect-the-corpus self-join. Capped at [[MaxMmrPool]] with a
    * loud rejection (the negativeMining ≤128-probe discipline).
    */
  val MaxMmrPool = 1024

  def mmrTopK(embeddings: DataFrame, idName: String, vecName: String,
              queryVec: Array[Float], k: Int, poolN: Int = 32,
              excludeId: Long = -1L): DataFrame = {
    require(k >= 1 && poolN >= k, s"need 1 <= k <= poolN, got k=$k poolN=$poolN")
    require(poolN <= MaxMmrPool,
      s"mmrTopK poolN=$poolN exceeds MaxMmrPool=$MaxMmrPool — the sim job " +
        s"and driver state are poolN², a larger pool is a corpus self-join " +
        s"in disguise; re-rank in relevance tiers instead")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val q = typedlit(queryVec)
    val pool = embeddings.filter(col(idName) =!= excludeId)
      .select(col(idName).as("id"),
        round(VecFns.cosine(col(vecName), q) * 1e6).cast("long").as("rel_i6"),
        col(vecName).as("v"))
      .orderBy(col("rel_i6").desc, col("id").asc)
      .limit(poolN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rels = pool.select(col("id"), col("rel_i6"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val sims = pool.select(col("id").as("ia"), col("v").as("va"))
      .crossJoin(pool.select(col("id").as("ib"), col("v").as("vb")))
      .filter(col("ia") < col("ib"))
      .select(col("ia"), col("ib"),
        round(VecFns.cosine(col("va"), col("vb")) * 1e6).cast("long").as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    pool.unpersist()
    def sim(a: Long, b: Long): Long =
      if (a < b) sims((a, b)) else sims((b, a))
    val remaining = scala.collection.mutable.LinkedHashMap(rels: _*)
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long, Long)]
    while (picked.length < math.min(k, rels.length)) {
      val best =
        if (picked.isEmpty)
          remaining.map { case (id, rel) => (id, rel, rel) }
            .maxBy { case (id, _, score) => (score, -id) }
        else
          remaining.map { case (id, rel) =>
            val maxSim = picked.map(p => sim(id, p._2)).max
            (id, rel, rel - maxSim)
          }.maxBy { case (id, _, score) => (score, -id) }
      picked += ((picked.length + 1, best._1, best._2, best._3))
      remaining.remove(best._1)
    }
    picked.toSeq.toDF("rank", "vec_id", "rel_i6", "mmr_i6")
  }
}
