package graft.tools

import org.apache.spark.sql.SparkSession

/** Scratch probe: rep-over-rep stability of the iterative queries
  * (q100 PageRank, q69/q90 connected components) with RDD-level
  * unpersist between reps — the Bench hygiene fix for localCheckpoint
  * block pile-up.
  */
object ProbeIter {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.cleaner.periodicGC.interval", "60s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for (name <- Seq("q100_pagerank", "q69_dup_clusters", "q90_neardup_prune",
        "q119_bfs_hops")) {
      val fn = graft.SparkEntry.queries(name)
      val times = (0 until 3).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        graft.Sessions.release(spark)
        f"$dt%.1f"
      }
      println(s"[probe] $name reps=${times.mkString(",")}")
    }
    spark.stop()
  }
}
