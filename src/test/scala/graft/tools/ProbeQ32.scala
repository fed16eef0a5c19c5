package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Stage decomposition of q32 (simhash near-dups, full-oracle
  * envelope): is the cost the token-explode 64-sum aggregation
  * (simhash64), the two band self-joins (4-band ham8, 8-band ham3),
  * or the recheck joins? Decides whether a packed-counter aggregation
  * (round-17 "not yet optimized" #3) is worth its exactness risk.
  */
object ProbeQ32 {
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
    import graft.operators.Dedup
    def sec[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[probe] $label%-40s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // warm
    sec("warm full q32")(
      noop(graft.SparkEntry.queries("q32_simhash_neardups")(spark, dir)))
    graft.Sessions.release(spark)
    (1 to 2).foreach { rep =>
      println(s"[probe] ---- rep $rep ----")
      val docs = graft.Tables(spark, dir).documents
      sec("simhash64 pass alone (noop)")(
        noop(Dedup.simhash64(docs, "doc_id", col("text"))))
      val sh = Dedup.simhash64(docs, "doc_id", col("text"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      sec("materialize hashes")(sh.count())
      sec("4-band ham8 from cached hashes")(
        noop(Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = 8,
          hashes = Some(sh))))
      sec("8-band ham3 from cached hashes")(
        noop(Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = 3,
          bands = 8, hashes = Some(sh))))
      graft.Sessions.release(spark)
      sec("full q32")(
        noop(graft.SparkEntry.queries("q32_simhash_neardups")(spark, dir)))
      graft.Sessions.release(spark)
    }
    spark.stop()
  }
}
