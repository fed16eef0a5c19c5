package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hybrid-retrieval composition: fuse k-bounded rankings from
  * different scorers (lexical BM25, embedding cosine, …) into one
  * list — the standard retrieval-augmentation shape where no single
  * scorer dominates.
  */
object Retrieval {

  /** Reciprocal-rank fusion (Cormack et al.): each input ranking
    * contributes 1/(kRrf + rank) per document; documents are returned
    * by descending fused score, top `k`.
    *
    * Inputs are (id, score) relations that are ALREADY k-bounded
    * top-N lists (the output of `bm25TopK` / `bruteTopK` — a
    * TakeOrderedAndProject each); RRF over unbounded rankings would
    * be a different operator (and a mistake — fusion quality comes
    * from the head of each list). Ranks are positions in ONE
    * collected, sorted array per list — a global aggregation
    * (partial + one reducer), the idiomatic plan for a
    * parameter-sized list, with no single-partition window anywhere.
    *
    * Determinism / cross-engine parity: ranks tie-break on id; the
    * contribution is floor(1e9/(kRrf+rank)) — an integer, so the
    * fused sum is exact integer math under any aggregation order
    * (the double division is exact-enough that its floor equals the
    * rational floor: the quotient is ≥1/(kRrf+rank) ≥ ~1e-3 away
    * from the next integer, 6 orders beyond double rounding error).
    * The emitted `rrf` double is the integer sum scaled by 1e-9.
    *
    * `maxN` enforces the bounded-input contract VISIBLY and IN THE
    * PLAN: each ranking is limited to maxN+1 rows (a
    * TakeOrderedAndProject — the collected array stays bounded by
    * construction), and if the sentinel maxN+1-th position exists
    * its contribution expression RAISES instead of computing — a
    * ranking longer than maxN fails the query loudly, never silently
    * truncates (truncation would drop tail contributions of up to
    * 1e9/(kRrf+rank) per list and change fused scores behind the
    * caller's back). Zero extra jobs: the guard rides the same scan
    * the fusion reads. A caller fusing genuinely longer lists passes
    * a larger `maxN` explicitly.
    */
  def rrf(rankings: Seq[DataFrame], idName: String, scoreName: String,
          k: Int, kRrf: Int = 60, maxN: Int = 1024): DataFrame = {
    // maxN may sit below k: with L input lists the fused candidate
    // pool is up to L*maxN distinct ids, and a short pool simply
    // returns fewer than k rows — not an error
    require(rankings.nonEmpty && k >= 1 && kRrf >= 0 && maxN >= 1)
    val contribs = rankings.map { df =>
      // rank = position in the sorted collected array (struct sorts
      // by (-score, id) ascending ≡ (score desc, id asc))
      val keyed = struct(negate(col(scoreName)).as("__s"),
        col(idName).as("__id"))
      df.select(col(idName), col(scoreName))
        .orderBy(col(scoreName).desc, col(idName).asc).limit(maxN + 1)
        .agg(sort_array(collect_list(keyed)).as("__l"))
        .select(posexplode(col("__l")).as(Seq("__p", "__e")))
        .select(col("__e.__id").as(idName),
          when(col("__p") >= maxN, Publish.raise(lit(
            s"rrf: input ranking exceeds maxN=$maxN rows — RRF fuses " +
              "k-bounded top-N lists; pre-truncate the ranking or pass " +
              "a larger maxN (silent truncation would change fused " +
              "scores)")).cast("long"))
            .otherwise(floor(lit(1e9) / (lit(kRrf) + col("__p") + 1)).cast("long"))
            .as("__c"))
    }
    contribs.reduce(_.unionByName(_))
      .groupBy(col(idName))
      .agg(sum(col("__c")).as("fp"), count(lit(1)).as("n_lists"))
      .select(col(idName), col("n_lists"),
        (col("fp").cast("double") / lit(1e9)).as("rrf"))
      .orderBy(col("rrf").desc, col(idName).asc)
      .limit(k)
  }
}
