package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Inside a q199 trigger: how much of the ~3.5 s/trigger is shingle
  * hashing, banding, the incremental candidate join, the verify, and
  * the three state writes — vs structured-streaming machinery.
  */
object ProbeQ199b {
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
    val docs = graft.Tables(spark, dir).documents
      .select(col("doc_id"), col("text"))
    // warm codegen
    graft.operators.Dedup.hashedShingleSets(docs.limit(100), "doc_id", "text", 3)
      .write.format("noop").mode("overwrite").save()
    (1 to 2).foreach { rep =>
      println(s"[probe] ---- rep $rep: 4 direct neardupBatch calls ----")
      val scratch = java.nio.file.Files
        .createTempDirectory("probe_q199b").toString
      val t0 = System.nanoTime()
      (0 until 4).foreach { b =>
        sec(s"neardupBatch bid=$b") {
          graft.streaming.StreamOps.neardupBatch(
            docs.filter(col("doc_id") % 4 === b), b.toLong,
            s"$scratch/state", "doc_id", "text",
            threshold = 0.6, k = 32, bands = 8, shingleN = 3)
        }
      }
      println(f"[probe] 4 batches total ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      // stage split for one batch against a 3/4 archive
      val batch = docs.filter(col("doc_id") % 4 === 3)
      val shB = sec("  hashedShingleSets(batch)") {
        val s0 = graft.operators.Dedup
          .hashedShingleSets(batch, "doc_id", "text", 3)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        s0.count(); s0
      }
      val bdB = sec("  minhash+bands(batch)") {
        val b0 = graft.operators.Dedup.minhashBands(
            graft.operators.Dedup.minhashSignaturesFromShingles(shB, 32, 3),
            32, 8)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        b0.count(); b0
      }
      val archSh = spark.read.parquet(s"$scratch/state/shingles")
        .filter(col("batch") =!= 3L).drop("batch")
      val archBd = spark.read.parquet(s"$scratch/state/bands")
        .filter(col("batch") =!= 3L).drop("batch")
      sec("  incremental pairs (cand+verify)") {
        graft.operators.Dedup.minhashNearDupsIncremental(batch,
            "doc_id", "text", archSh, archBd, 0.6, 32, 8, 3,
            batchShingles = Some(shB), batchBands = Some(bdB))
          .write.format("noop").mode("overwrite").save()
      }
      sec("  write shingles gen") {
        shB.write.mode("overwrite").parquet(s"$scratch/tmp_sh")
      }
      sec("  write bands gen") {
        bdB.write.mode("overwrite").parquet(s"$scratch/tmp_bd")
      }
      shB.unpersist(); bdB.unpersist()
      graft.Sessions.release(spark)
    }
    spark.stop()
  }
}
