package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** Multinomial Naive Bayes text classification — the fastText-class
  * workhorse of a training-data pipeline (language ID, quality
  * gating, domain routing), expressed as PURE relational algebra:
  * "training" is two keyed aggregations over the labeled corpus
  * (per-class token counts + class priors) and "inference" is a
  * broadcast join of those model tables against the exploded test
  * tokens. Nothing is collected to the driver — the model lives as
  * relations, so a vocabulary of any size trains in one shuffle and
  * scoring stays a linear scan however large the test corpus. At
  * 100 TB the model tables are the small side of broadcast joins
  * (vocab × classes rows), which is exactly how a production lang-ID
  * pass over a crawl is shaped.
  *
  * Determinism discipline (the TextMetrics.unigramSurprisal device):
  * every log-probability is quantized to 1e-4 fixed point as a
  * BIGINT *before* any per-document aggregation, so scores are exact
  * integer sums — cross-engine-identical regardless of float
  * summation order — and the argmax is a deterministic (score, label)
  * ordering. The whole train+predict pipeline therefore replays
  * bit-for-bit in SQL: a FULL-oracle trainable classifier, like the
  * BPE/unigram-LM learners.
  *
  * Model, with Laplace smoothing (α = 1):
  *   score(d, c) = lp4(P(c)) + Σ_{t ∈ d} lp4(P(t | c))
  *   P(t | c)    = (count(t, c) + 1) / (tokens(c) + |V|)
  * where |V| is the training vocabulary size; a test token unseen in
  * class c scores the unseen mass 1 / (tokens(c) + |V|), and lp4(p) =
  * floor(−ln(p)·1e4 + 0.5) (so argmax over probabilities = argmin
  * over scores).
  */
object NbClassify {

  private def lp4(p: Column): Column =
    floor(-log(p) * lit(1e4) + lit(0.5)).cast("long")

  /** Train on `train` (labeled) and predict labels for `test`.
    * Output: one row per test document —
    * (idName, label = actual, predicted, score4, correct) — ordered
    * by id. `score4` is the winning class's fixed-point negative
    * log-posterior (lower = more likely); `correct` compares against
    * the test rows' own labels (an evaluation convenience — pass an
    * unlabeled relation with a dummy label column to score fresh
    * data). Rows with NULL labels in `train` are rejected loudly:
    * silently dropping them would train a different model than the
    * caller thinks.
    *
    * Shapes: two keyed aggs over the exploded train tokens (model),
    * one keyed agg over the exploded test tokens joined to the model
    * (inference; the per-class default-mass table and priors are
    * class-count-sized broadcasts), one window for the per-document
    * argmin. Ties break on label ascending — deterministic on any
    * partitioning.
    */
  def nbPredict(train: DataFrame, test: DataFrame, idName: String,
                labelName: String, text: Column): DataFrame = {
    val nullLab = train.filter(col(labelName).isNull).take(1)
    require(nullLab.isEmpty,
      s"nbPredict: train has a NULL $labelName row — label it or filter it " +
        "explicitly (a silently-dropped row trains a different model)")

    val trTok = train.select(col(labelName).as("__c"),
      explode(TextFns.tokens(text)).as("token"))

    // model tables — all relations, never driver state
    val tokCnt = trTok.groupBy(col("__c"), col("token"))
      .agg(count(lit(1)).as("__ct"))
    val classDocs = train.groupBy(col(labelName).as("__c"))
      .agg(count(lit(1)).as("__nd"))
    scoreWithModel(tokCnt, classDocs, test, idName, labelName, text)
  }

  /** The shared inference half: score `test` against model count
    * relations (per-(class, token) counts + per-class doc counts) —
    * the derived tables (class token totals, vocabulary size, priors)
    * are themselves aggregations of the counts, so a model summed
    * from generations scores identically to one trained in a single
    * pass.
    */
  private def scoreWithModel(tokCnt: DataFrame, classDocs: DataFrame,
                             test: DataFrame, idName: String,
                             labelName: String, text: Column): DataFrame = {
    val clsTot = tokCnt.groupBy(col("__c")).agg(sum(col("__ct")).as("__tot"))
    val vocab = tokCnt.agg(countDistinct(col("token")).as("__v"))
    val nDocs = classDocs.agg(sum(col("__nd")).as("__n"))
    val priors = classDocs
      .crossJoin(nDocs)
      .select(col("__c"),
        lp4(col("__nd").cast("double") / col("__n")).as("__prior4"))
    // per-class token log-probs + the per-class unseen-token mass
    val denom = clsTot.crossJoin(vocab)
      .select(col("__c"), (col("__tot") + col("__v")).as("__den"))
    val lp = tokCnt.join(denom, Seq("__c"))
      .select(col("__c"), col("token"),
        lp4((col("__ct") + lit(1L)).cast("double") / col("__den")).as("__lp4"))
    val lpUnseen = denom
      .select(col("__c"), lp4(lit(1.0) / col("__den")).as("__lp0"))

    // inference: exploded test tokens × classes (class-count fan-out),
    // model join, per-(doc, class) integer sum
    val teTok = test.select(col(idName).as("__id"),
      explode(TextFns.tokens(text)).as("token"))
    val tokScores = teTok.crossJoin(broadcast(lpUnseen))
      .join(lp, Seq("__c", "token"), "left")
      .groupBy(col("__id"), col("__c"))
      .agg(sum(coalesce(col("__lp4"), col("__lp0"))).as("__s4"))
    // prior-only floor handles zero-token documents too
    val scores = test.select(col(idName).as("__id"))
      .crossJoin(broadcast(priors))
      .join(tokScores, Seq("__id", "__c"), "left")
      .select(col("__id"), col("__c"),
        (col("__prior4") + coalesce(col("__s4"), lit(0L))).as("__score4"))

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__id"))
      .orderBy(col("__score4").asc, col("__c").asc)
    val best = scores
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("__id"), col("__c").as("predicted"),
        col("__score4").as("score4"))
    test.select(col(idName), col(labelName))
      .join(best, col(idName) === col("__id"))
      .select(col(idName), col(labelName), col("predicted"),
        col("score4"), (col(labelName) === col("predicted")).as("correct"))
      .orderBy(col(idName))
  }

  // ================= persisted model + incremental maintenance =================
  //
  // NB's sufficient statistics are ADDITIVE COUNTS, so the model gets
  // the index family's maintenance story for free: the persisted
  // model is count relations laid out in `batch=<gen>` generations
  // (the streaming-sink layout — [[graft.sources.Compaction
  // .compactBatches]] folds old generations untouched, because
  // predict re-aggregates), appending a labeled batch writes ONE new
  // generation without touching prior ones, and prediction from the
  // accumulated table is BIT-IDENTICAL to retraining on the union —
  // not approximately, provably: sum of per-generation counts = count
  // over the union (spec-pinned). This is what "online model update"
  // should mean in a pipeline: no drift, no replay, no retraining
  // fleet.

  /** Train and persist the model as generation 0: per-(class, token)
    * counts under `modelPath/counts/batch=0` and per-class doc counts
    * under `modelPath/classdocs/batch=0`, published together through
    * [[Publish]].
    */
  def buildNbModel(train: DataFrame, labelName: String, text: Column,
                   modelPath: String): Unit =
    writeNbGeneration(train, labelName, text, modelPath, gen = 0L)

  /** Append a labeled batch as the model's next generation `gen`.
    * Overwrite semantics per generation — an at-least-once retry of
    * the same `gen` replaces rather than double-counts (the streaming
    * sink discipline), and a rejected batch (a NULL label) leaves the
    * generation it would replace as it was. The caller owns generation
    * numbering; writing a batch under TWO different gens double-counts
    * it, loudly impossible to distinguish from intent — hence the
    * explicit id.
    */
  def appendNbModel(batch: DataFrame, labelName: String, text: Column,
                    modelPath: String, gen: Long): Unit = {
    require(gen > 0L, s"appendNbModel: generation must be > 0 (got $gen); " +
      "generation 0 is the build")
    writeNbGeneration(batch, labelName, text, modelPath, gen)
  }

  private def writeNbGeneration(df: DataFrame, labelName: String,
                                text: Column, modelPath: String,
                                gen: Long): Unit = {
    val c = when(col(labelName).isNull, Publish.raise(lit(
        s"NB model generation $gen: a NULL $labelName row — label it or " +
          "filter it explicitly")))
      .otherwise(col(labelName)).as("c")
    Publish.dirs(df.sparkSession, Seq(s"$modelPath/counts/batch=$gen",
        s"$modelPath/classdocs/batch=$gen")) { case Seq(counts, classdocs) =>
      df.select(c, explode(TextFns.tokens(text)).as("token"))
        .groupBy(col("c"), col("token")).agg(count(lit(1)).as("ct"))
        .write.parquet(counts)
      df.groupBy(c).agg(count(lit(1)).as("nd")).write.parquet(classdocs)
    }
  }

  /** Predict from the persisted model: re-aggregate the accumulated
    * count generations (sum of per-generation counts ≡ counts over
    * the union of every trained batch) and score exactly as
    * [[nbPredict]] — same smoothing, same fixed-point, same
    * tie-breaks. `nbPredictIndexed(model over A then B) ==
    * nbPredict(train = A ∪ B)` bit for bit (spec-pinned).
    */
  def nbPredictIndexed(spark: org.apache.spark.sql.SparkSession,
                       modelPath: String, test: DataFrame, idName: String,
                       labelName: String, text: Column): DataFrame = {
    val tokCnt = spark.read.parquet(s"$modelPath/counts")
      .groupBy(col("c").as("__c"), col("token"))
      .agg(sum(col("ct")).as("__ct"))
    val classDocs = spark.read.parquet(s"$modelPath/classdocs")
      .groupBy(col("c").as("__c")).agg(sum(col("nd")).as("__nd"))
    scoreWithModel(tokCnt, classDocs, test, idName, labelName, text)
  }

  /** Confusion matrix + per-class fractions of [[nbPredict]]'s output:
    * (actual, predicted, n, class_n, frac) where `frac` = n/class_n,
    * the fraction of the actual class landing on each predicted label
    * (the diagonal rows are per-class recall) — the evaluation report
    * a classifier gate ships with. One keyed agg + a per-actual-class
    * window total.
    */
  def nbConfusion(predictions: DataFrame, labelName: String): DataFrame = {
    val cells = predictions
      .groupBy(col(labelName).as("actual"), col("predicted"))
      .agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("actual"))
    cells
      .withColumn("class_n", sum(col("n")).over(w))
      .select(col("actual"), col("predicted"), col("n"), col("class_n"),
        round(col("n").cast("double") / col("class_n"), 6).as("frac"))
      .orderBy(col("actual"), col("predicted"))
  }
}
