package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stage decomposition of q247 (partial PQ subspace rebuild lifecycle)
  * at the bench SF: where do its ~9-12 s/rep go — the codebook train,
  * the appends, the two drift reports, the rebuild, or the serve?
  */
object ProbeQ247 {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    def sec[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[probe] $label%-34s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }
    import graft.operators.Similarity
    import graft.functions.VecFns
    // warm once
    sec("warm full q247")(
      graft.SparkEntry.queries("q247_pq_rebuild")(spark, dir)
        .write.format("noop").mode("overwrite").save())
    (1 to 2).foreach { rep =>
      println(s"[probe] ---- rep $rep ----")
      val emb = graft.Tables(spark, dir).embeddings
        .select(col("vec_id"), col("embedding"))
        .filter(col("vec_id") % 4 === 0)
      val scratch = java.nio.file.Files
        .createTempDirectory("probe_q247").toString
      val idx = s"$scratch/idx"
      sec("buildPqIndex")(
        Similarity.buildPqIndex(emb, "vec_id", "embedding", 8, 16, idx))
      val shiftedD = emb.select(
        (col("vec_id") + lit(1000000L)).as("vec_id"),
        transform(col("embedding").cast("array<double>"),
          (x, i) => when(i === 0, x + lit(8.0)).otherwise(x))
          .as("embedding"))
      val shiftedF = shiftedD.select(col("vec_id"),
        col("embedding").cast("array<float>").as("embedding"))
      sec("appendPqIndex")(
        Similarity.appendPqIndex(spark, idx, shiftedF, "vec_id", "embedding"))
      val grownF = emb.unionByName(shiftedF)
      val pre = sec("pre driftReport")(
        Similarity.pqDriftReport(spark, idx, grownF, "embedding")
          .agg(sum(when(col("drifted"), 1L).otherwise(0L)),
            max(when(col("drifted"), col("sub"))),
            max(when(col("sub") === 0L, col("resid_now_e6")))).head())
      val _ = pre
      def tailSum(): Long = spark.read.parquet(s"$idx/codes")
        .agg(sum(pmod(xxhash64(col("vec_id"),
          to_json(slice(col("codes"), 2, 7))), lit(1000000007L))))
        .head().getLong(0)
      sec("tailSum pre")(tailSum())
      sec("rebuildPqSubspaces")(
        Similarity.rebuildPqSubspaces(spark, idx, grownF, "vec_id",
          "embedding", Seq(0)))
      sec("tailSum post")(tailSum())
      sec("post driftReport")(
        Similarity.pqDriftReport(spark, idx, grownF, "embedding")
          .agg(sum(when(col("drifted"), 1L).otherwise(0L))).head())
      sec("stats read")(
        spark.read.parquet(s"$idx/stats").filter(col("sub") === 0)
          .select(col("resid_build_e6")).head())
      val q0 = sec("q0 head")(
        emb.filter(col("vec_id") === 0).select("embedding")
          .head().getSeq[Float](0).toArray)
      sec("final serve (exact + pq + verdicts)") {
        val grownD = emb
          .select(col("vec_id"),
            col("embedding").cast("array<double>").as("embedding"))
          .unionByName(shiftedD)
        val exact = grownD.filter(col("vec_id") =!= 0)
          .select(col("vec_id"), round(sqrt(
            VecFns.dot(col("embedding"), col("embedding"))
              - lit(2.0) * VecFns.dot(col("embedding"), typedlit(q0))
              + lit(q0.map(x => x.toDouble * x).sum)), 6).as("l2"))
          .orderBy(col("l2").asc, col("vec_id").asc).limit(10)
        val pq = Similarity.pqTopK(spark, idx, grownD, "vec_id", "embedding",
          q0, 10, rerank = 100, excludeId = 0L)
        def ranked(df: DataFrame, prefix: String): DataFrame =
          df.agg(sort_array(collect_list(struct(col("l2").as("__d"),
              col("vec_id").as("__id")))).as("a"))
            .select(posexplode(col("a")).as(Seq("rk", "r")))
            .select(col("rk"), col("r.__d").as(s"${prefix}_d"))
        val dominated = ranked(exact, "ex").join(ranked(pq, "pq"), Seq("rk"))
          .agg(coalesce(every(col("pq_d") >= col("ex_d") - 1e-9), lit(true))
            .as("pq_dominated_ok"))
        val recall = exact.select(col("vec_id"))
          .join(pq.select(col("vec_id")), Seq("vec_id"), "left_semi")
          .agg((count(lit(1)) >= 6L).as("pq_recall_ok"))
        exact.crossJoin(broadcast(recall)).crossJoin(broadcast(dominated))
          .write.format("noop").mode("overwrite").save()
      }
      graft.Sessions.release(spark)
    }
    spark.stop()
  }
}
